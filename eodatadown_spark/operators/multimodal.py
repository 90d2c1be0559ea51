"""Multimodal column plumbing: opaque binary payloads + typed metadata.

Images/audio/video ride as `binary` columns with a metadata struct; decode /
feature-extract / frame-sample are Arrow-batched `mapInPandas`
stages.  The image/audio codec libraries are NOT in this container, so the
format-decode kernels are STUBBED with a deterministic fake (clearly
marked); the Spark-side plumbing — schema, partitioning, UDF signature,
batch shape — is real and tested.  The perceptual hash (:func:`phash64`)
is NOT a stub: a real integer-scaled 32-point DCT-II over raw grayscale
rasters, computed in numpy.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from eodatadown_spark.operators.dedup import ensure_min_parallelism
from pyspark.sql import types as T

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("kind", T.StringType(), True),  # image|audio|video
        T.StructField("payload", T.BinaryType(), True),
        T.StructField(
            "meta",
            T.StructType(
                [
                    T.StructField("width", T.IntegerType(), True),
                    T.StructField("height", T.IntegerType(), True),
                    T.StructField("sample_rate", T.IntegerType(), True),
                    T.StructField("n_frames", T.IntegerType(), True),
                    T.StructField("format", T.StringType(), True),
                ]
            ),
            True,
        ),
    ]
)

FEATURE_SCHEMA = (
    "media_id long, kind string, payload_bytes long, feature array<float>"
)


def _fake_decode(payload: bytes) -> list[float]:
    """STUB decoder — deterministic 8-dim feature from payload bytes.

    Real deployment swaps this for PIL/libsndfile/ffmpeg decode; the
    surrounding Spark plumbing is identical.  Raises on None to mirror a
    codec error path.
    """
    if payload is None:
        raise NotImplementedError("no payload; real decoder not available in this image")
    return [float(payload[i % len(payload)]) / 255.0 if payload else 0.0 for i in range(8)]


def extract_features(media: DataFrame, batch_hint: int | None = None) -> DataFrame:
    """Decode + featurize each media row via Arrow-batched mapInPandas.

    Partition-parallel: each task streams record batches, decodes rows, and
    emits fixed-width feature vectors — the shape a real embedding/decode
    stage has at scale (payloads never pass through the driver).
    """
    def _run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": pdf["kind"],
                    "payload_bytes": pdf["payload"].map(
                        lambda p: len(p) if p is not None else 0
                    ),
                    "feature": pdf["payload"].map(
                        lambda p: _fake_decode(p) if p is not None else [0.0] * 8
                    ),
                }
            )

    df = media
    if batch_hint:
        df = df.repartition(batch_hint)
    return ensure_min_parallelism(df).mapInPandas(_run, schema=FEATURE_SCHEMA)


def sample_frames(media: DataFrame, every_n: int = 10) -> DataFrame:
    """Frame-sampling plan for video rows: explode frame indices 0..n_frames
    step `every_n` — pure Catalyst; the per-frame decode joins in later via
    :func:`extract_features`-style stages."""
    return (
        media.where(F.col("kind") == "video")
        .select(
            "media_id",
            F.explode(
                F.sequence(
                    F.lit(0),
                    F.greatest(F.col("meta.n_frames") - 1, F.lit(0)),
                    F.lit(every_n),
                )
            ).alias("frame_idx"),
        )
    )


def detect_shot_boundaries(
    media: DataFrame,
    every_n: int = 10,
    dim: int = 4,
    threshold: float = 0.6,
) -> DataFrame:
    """Video shot-boundary detection plumbing: sample frames, featurize
    each sampled frame (Arrow-batched stub kernel — a real frame decoder +
    visual encoder drops into the same per-row-batch slot), then flag
    frames whose feature L2 distance to the PREVIOUS sampled frame exceeds
    ``threshold`` → (media_id, frame_idx, dist, is_boundary).

    The first sampled frame of every video is a boundary by definition
    (dist NULL).  Plan shape: the frame fan-out explode, one mapInPandas
    featurize pass, one per-media lag window — no shuffle beyond the
    window's keyed exchange; the per-frame feature is the stub
    ``_fake_embed("<media_id>:<frame_idx>")`` so an ANSI oracle recomputes
    every distance bit-for-bit (q119).
    """
    frames = sample_frames(media, every_n)

    def featurize(batches):
        import pandas as pd

        for pdf in batches:
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "frame_idx": pdf["frame_idx"],
                    "feat": [
                        _fake_embed(f"{m}:{f}", dim)
                        for m, f in zip(pdf["media_id"], pdf["frame_idx"])
                    ],
                }
            )

    feats = ensure_min_parallelism(frames).mapInPandas(
        featurize, "media_id long, frame_idx int, feat array<double>"
    )
    from pyspark.sql import Window

    w = Window.partitionBy("media_id").orderBy("frame_idx")
    prev = F.lag("feat").over(w)
    dist = F.sqrt(
        F.aggregate(
            F.zip_with(F.col("feat"), prev, lambda a, b: (a - b) * (a - b)),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )
    return (
        feats.withColumn("dist", F.round(dist, 4))
        .withColumn(
            "is_boundary",
            F.col("dist").isNull() | (F.col("dist") > threshold),
        )
        .select("media_id", "frame_idx", "dist", "is_boundary")
    )


EMBED_PRIME = 2038074743  # same modulus as the engine's rolling fingerprint


def _fake_embed(text: str, dim: int) -> list[float]:
    """STUB embedder — deterministic [0,1) vector from a 31-base rolling
    hash of ``text + ':' + dim_index``.  Real deployment swaps this for a
    model forward pass (sentence-transformers etc.); the rolling form is
    chosen so an ANSI-SQL oracle can recompute every dimension exactly.

    The hash is a left fold, so the text prefix folds ONCE and each
    dimension continues from that value over only ``:<d>`` —
    O(len(text) + dim·len(':<d>')) instead of O(dim·len(text)) per row.
    """
    prefix = 0
    for ch in text:
        prefix = (prefix * 31 + ord(ch)) % EMBED_PRIME
    out = []
    for d in range(dim):
        h = prefix
        for ch in f":{d}":
            h = (h * 31 + ord(ch)) % EMBED_PRIME
        out.append((h % 10_000) / 10_000.0)
    return out


def embed_documents(
    documents: DataFrame,
    dim: int = 16,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Embedding-generation plumbing → (doc_id, embedding array<float>):
    Arrow-batched ``mapInPandas`` whose kernel is the deterministic stub
    embedder (clearly marked; a real model drops into ``_fake_embed``'s
    slot without touching the Spark side).

    This is the shape a 100 TB embedding job runs as: the text column
    streams through executor-side batches (no driver involvement, no
    per-row Python UDF calls — one pandas call per Arrow batch), and the
    output schema is the `embeddings`-table contract so downstream ANN /
    dedup operators consume it directly.
    """
    schema = f"{id_col} long, embedding array<float>"

    def _run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "embedding": [
                        _fake_embed(t if t is not None else "", dim)
                        for t in pdf[text_col]
                    ],
                }
            )

    return ensure_min_parallelism(
        documents.select(id_col, text_col)
    ).mapInPandas(_run, schema=schema)


PHASH_SIDE = 32          # raster side the decode normalizes to
PHASH_SCALE = 2048       # integer scale of the DCT cosine table (2^11)
PHASH_BITS = 63          # 8×8 low-frequency block minus the DC coefficient


def _dct_table() -> tuple[tuple[int, ...], ...]:
    """First 8 rows of the orthonormal 32-point DCT-II matrix, integer-
    scaled (×2048, round-half-even) — the JPEG-style scaled-integer DCT.

    Integer weights make the whole hash pipeline EXACT arithmetic, so an
    independent engine (the DuckDB oracle, the naive-Python test
    reference) reproduces every bit without float-summation-order risk.
    This table is the single source of truth: the oracle SQL inlines
    these literals via this function.
    """
    import math

    rows = []
    for u in range(8):
        alpha = math.sqrt((1 if u == 0 else 2) / PHASH_SIDE)
        rows.append(tuple(
            round(alpha * math.cos(math.pi * (2 * i + 1) * u / (2 * PHASH_SIDE))
                  * PHASH_SCALE)
            for i in range(PHASH_SIDE)
        ))
    return tuple(rows)


def phash64(payload: bytes) -> int:
    """Real DCT perceptual hash of a grayscale raster payload → 63-bit int.

    Decode: the payload is a row-major uint8 raster, truncated/cycled to
    32×32 (a real image decoder + area resampler drops in here; the
    fixture rasters are already 1024 bytes so this step is the identity).
    Transform: C = D·X·Dᵀ with the integer-scaled orthonormal DCT-II
    rows (``_dct_table``), int64 matmul — exact (|coef| < 2^41).  The
    8×8 low-frequency block minus the DC coefficient gives 63 values;
    each bit is coef > median (the 32nd smallest of 63 — a true odd-count
    median), packed little-endian by (u·8+v)−1.  63 bits keeps the hash
    in a signed BIGINT for JVM/DuckDB xor + bit_count verify.
    """
    import numpy as np

    if not payload:
        x = np.zeros((PHASH_SIDE, PHASH_SIDE), dtype=np.int64)
    else:
        n = PHASH_SIDE * PHASH_SIDE
        buf = (payload * (n // len(payload) + 1))[:n]
        x = np.frombuffer(bytes(buf), dtype=np.uint8).astype(np.int64).reshape(
            PHASH_SIDE, PHASH_SIDE
        )
    d = np.array(_dct_table(), dtype=np.int64)
    coef = (d @ x @ d.T).reshape(-1)[1:]          # drop DC, 63 ints
    med = int(np.partition(coef, 31)[31])          # 32nd smallest of 63
    bits = coef > med
    return int(sum(1 << i for i, b in enumerate(bits) if b))


def _band_slices(n_bands: int) -> list[tuple[int, int]]:
    """Split the 63 hash bits into ``n_bands`` contiguous (offset, width)
    slices, widths differing by at most one — the widest chunks the
    pigeonhole split allows, maximizing band-bucket cardinality."""
    base, rem = divmod(PHASH_BITS, n_bands)
    out, off = [], 0
    for b in range(n_bands):
        w = base + (1 if b < rem else 0)
        out.append((off, w))
        off += w
    return out


def _phash_hashed(
    media: DataFrame, id_col: str, payload_col: str
) -> DataFrame:
    """(id, phash) via one Arrow mapInPandas pass over non-NULL payloads."""
    import pandas as pd

    id_type = dict(media.dtypes)[id_col]

    def kernel(batches):
        for pdf in batches:
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "phash": [phash64(bytes(p)) for p in pdf[payload_col]],
                }
            )

    return ensure_min_parallelism(
        media.select(id_col, payload_col)
        # failed-fetch rows (NULL payload) have no content to hash —
        # skip them instead of dying on bytes(None) inside the kernel
        .where(F.col(payload_col).isNotNull())
    ).mapInPandas(kernel, f"`{id_col}` {id_type}, phash long")


def _phash_banded(hashed: DataFrame, n_bands: int) -> DataFrame:
    """Explode (id, phash) into (id, phash, d, chunk) band rows — the
    JVM-side bit-slice banding shared by the one-shot and incremental
    paths."""
    return hashed.select(
        F.col(hashed.columns[0]).alias("id"),
        "phash",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(d).alias("d"),
                    F.expr(
                        f"(phash >> {off}) & {(1 << w) - 1}"
                    ).alias("chunk"),
                )
                for d, (off, w) in enumerate(_band_slices(n_bands))
            ])
        ).alias("b"),
    ).select("id", "phash", "b.d", "b.chunk")


def phash_index(
    media: DataFrame,
    id_col: str = "media_id",
    payload_col: str = "payload",
    n_bands: int = 4,
) -> DataFrame:
    """The PERSISTENT half of continuous media dedup: banded pHash index
    rows (id, phash, d, chunk) for a corpus — n_bands narrow rows per
    media item, the relation :func:`phash_neardup_against_index` probes
    with each new batch.  Store it in a catalog table and append each
    batch's own rows to keep it current (the minhash_band_index pattern,
    ref dedup.py).  ``n_bands`` is part of the index identity — probe
    with the same value, and keep ``radius < n_bands`` for the
    pigeonhole guarantee."""
    return _phash_banded(_phash_hashed(media, id_col, payload_col), n_bands)


def phash_neardup_against_index(
    new_media: DataFrame,
    index: DataFrame,
    radius: int = 3,
    id_col: str = "media_id",
    payload_col: str = "payload",
    n_bands: int = 4,
) -> DataFrame:
    """Incremental media near-dup: (id_a, id_b, hamming) pairs with at
    least one NEW endpoint — new-vs-corpus and new-vs-new — by probing a
    STORED banded index instead of re-hashing the corpus.

    Per batch the work is the new payloads' DCT hash (Arrow pass over the
    batch only) plus an equi-join of the new band rows against the index
    on (d, chunk); the 100 TB media corpus is touched only through index
    rows sharing a band bucket with the batch.  Output equals running
    :func:`phash_neardup_pairs` over old ∪ new and keeping pairs with a
    new endpoint (pigeonhole-exact for ``radius < n_bands``) — q149
    proves it against the naive all-pairs oracle.
    """
    if not 0 <= radius < n_bands:
        raise ValueError(
            "radius must be < n_bands: the pigeonhole guarantee needs "
            "more chunks than differing bits"
        )
    new_banded = _phash_banded(
        _phash_hashed(new_media, id_col, payload_col), n_bands
    )
    all_banded = index.select("id", "phash", "d", "chunk").unionByName(
        new_banded
    )
    cand = (
        new_banded.alias("l")
        .join(all_banded.alias("r"), ["d", "chunk"])
        .where(F.col("l.id") != F.col("r.id"))
        .select(
            F.least("l.id", "r.id").alias("id_a"),
            F.greatest("l.id", "r.id").alias("id_b"),
            F.least("l.phash", "r.phash").alias("__pa"),
            F.greatest("l.phash", "r.phash").alias("__pb"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    return (
        cand.withColumn(
            "hamming", F.bit_count(F.expr("__pa ^ __pb")).cast("int")
        )
        .where(F.col("hamming") <= radius)
        .select("id_a", "id_b", "hamming")
    )


def phash_neardup_pairs(
    media: DataFrame,
    radius: int = 3,
    id_col: str = "media_id",
    payload_col: str = "payload",
    n_bands: int | None = None,
) -> DataFrame:
    """Perceptual-hash near-duplicate media pairs → (id_a, id_b, hamming):
    the image-dedup step of a multimodal pipeline, banded so no all-pairs
    join ever runs.

    Each payload maps to a real 63-bit DCT perceptual hash
    (:func:`phash64`: integer-scaled 32-point DCT-II, 8×8 low-frequency
    block, median threshold) in one Arrow ``mapInPandas`` pass.  The hash
    is then sliced JVM-side into ``n_bands`` contiguous bit chunks
    (default ``radius+1``, the minimum that keeps banding EXACT by
    pigeonhole: ≤radius differing bits touch ≤radius chunks, so one band
    always collides — no recall loss, unlike LSH); candidates equi-join
    on identical (band, chunk), and the verify is one XOR+bit_count per
    pair on the packed hash.

    Scale: candidates = Σ per-band collision counts; fewer bands mean
    wider chunks (radius 2 → 21-bit chunks, 2M buckets), so the default
    uses the coarsest split the radius allows.  Identical payloads give
    hamming 0; a one-pixel perturbation moves only borderline-median
    coefficient bits, so near-identical rasters land within small radii.
    """
    n_bands = radius + 1 if n_bands is None else n_bands
    if not 0 <= radius < n_bands:
        raise ValueError(
            "radius must be < n_bands: the pigeonhole guarantee needs "
            "more chunks than differing bits — raise n_bands (≤63) instead"
        )
    if n_bands > PHASH_BITS:
        raise ValueError("n_bands cannot exceed the 63 hash bits")
    bands = _phash_banded(_phash_hashed(media, id_col, payload_col), n_bands)
    cand = (
        bands.alias("l")
        .join(bands.alias("r"), ["d", "chunk"])
        .where(F.col("l.id") < F.col("r.id"))
        .select(
            F.col("l.id").alias("id_a"),
            F.col("r.id").alias("id_b"),
            F.col("l.phash").alias("__pa"),
            F.col("r.phash").alias("__pb"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    return (
        cand.withColumn(
            "hamming", F.bit_count(F.expr("__pa ^ __pb")).cast("int")
        )
        .where(F.col("hamming") <= radius)
        .select("id_a", "id_b", "hamming")
    )
