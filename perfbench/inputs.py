"""Seeded input generation for the catalog benchmark.

Everything the engine sees is built here from one integer seed, so the
same seed always gives the same inputs.  Nothing is read from outside the
checkout: the scene index is Landsat-shaped (the string columns of the
BigQuery ``landsat_index`` export that ``landsat_index_scenes``
normalizes): a base index for set-up and monthly deltas for the daily
cycle.
"""

from __future__ import annotations

import datetime as dt

import numpy as np
import pandas as pd

RAW_COLUMNS = [
    "scene_id", "product_id", "spacecraft_id", "sensor_id", "date_acquired",
    "sensing_time", "collection_number", "collection_category", "data_type",
    "wrs_path", "wrs_row", "cloud_cover", "north_lat", "south_lat",
    "east_lon", "west_lon", "total_size", "base_url",
]


def _scene_rows(
    rng: np.random.Generator,
    start: dt.date,
    end: dt.date,
    n: int,
    tag: str,
) -> pd.DataFrame:
    """``n`` distinct Landsat-shaped index rows acquired in [start, end]."""
    span = (end - start).days + 1
    days = np.sort(rng.integers(0, span, n))
    acq = pd.to_datetime(start) + pd.to_timedelta(days, unit="D")
    proc = acq + pd.to_timedelta(rng.integers(1, 30, n), unit="D")
    path = rng.integers(1, 234, n)
    row = rng.integers(1, 249, n)
    secs = rng.integers(0, 86400, n)
    south = np.round(rng.uniform(-60.0, 70.0, n), 4)
    west = np.round(rng.uniform(-180.0, 176.0, n), 4)
    acq_s = acq.strftime("%Y-%m-%d")
    acq_c = acq.strftime("%Y%m%d")
    proc_c = proc.strftime("%Y%m%d")
    pr = [f"{p:03d}{r:03d}" for p, r in zip(path, row)]
    ids = [f"LC8{x}{d}{tag}{i:07d}" for i, (x, d) in enumerate(zip(pr, acq_c))]
    hms = [f"{s // 3600:02d}:{s // 60 % 60:02d}:{s % 60:02d}" for s in secs]
    return pd.DataFrame({
        "scene_id": ids,
        "product_id": [
            f"LC08_L1TP_{x}_{a}_{p}_01_T1" for x, a, p in zip(pr, acq_c, proc_c)
        ],
        "spacecraft_id": "LANDSAT_8",
        "sensor_id": "OLI_TIRS",
        "date_acquired": acq_s,
        "sensing_time": [f"{a}T{h}.000000Z" for a, h in zip(acq_s, hms)],
        "collection_number": "01",
        "collection_category": "T1",
        "data_type": "L1TP",
        "wrs_path": path.astype(str),
        "wrs_row": row.astype(str),
        "cloud_cover": np.round(rng.uniform(0.0, 100.0, n), 2).astype(str),
        "north_lat": (south + 1.8).round(4).astype(str),
        "south_lat": south.astype(str),
        "east_lon": (west + 2.5).round(4).astype(str),
        "west_lon": west.astype(str),
        "total_size": rng.integers(50_000_000, 1_500_000_000, n).astype(str),
        "base_url": [f"gs://gcp-public-data-landsat/LC08/01/{x}/{i}" for x, i in zip(pr, ids)],
    })[RAW_COLUMNS]


def base_index(seed: int, n_scenes: int) -> pd.DataFrame:
    """The set-up ingest: ``n_scenes`` scenes acquired 1995–1999."""
    rng = np.random.default_rng([seed, 1])
    return _scene_rows(rng, dt.date(1995, 1, 1), dt.date(1999, 12, 31), n_scenes, "B")


def month_delta(
    seed: int,
    month: int,
    n_new: int,
    base: pd.DataFrame,
    replay_frac: float = 0.1,
    dup_frac: float = 0.01,
) -> tuple[pd.DataFrame, dict[str, str]]:
    """One month of the 2000–2001 index delta (``month`` 0 = Jan 2000).

    Returns ``(rows, expected)`` where ``expected`` maps each scene the
    catalog must gain to the product id keep-latest must keep.  The rows
    hold ``n_new`` fresh scenes, a ``replay_frac`` share of
    already-ingested base rows (below the watermark, so ingest must drop
    them) and a ``dup_frac`` share of the fresh scenes re-issued with a
    later processing date (same ``scene_id``, new ``product_id``;
    keep-latest must keep only those).  Exactly ``n_new`` scenes survive.

    ``dup_frac`` is the ~1% duplicate ``scene_id`` share FIXTURES.md
    gives the scene fixtures.  ``replay_frac`` has no source in the
    repository: it is an assumption, not a measured share.
    """
    rng = np.random.default_rng([seed, 2, month])
    year, mon = 2000 + month // 12, month % 12 + 1
    first = dt.date(year, mon, 1)
    last = (pd.Timestamp(first) + pd.offsets.MonthEnd(0)).date()
    fresh = _scene_rows(rng, first, last, n_new, f"M{month:02d}_")
    dups = fresh.sample(n=max(1, int(n_new * dup_frac)), random_state=rng).copy()
    # field 4 of the product id is the processing date keep-latest reads
    parts = dups["product_id"].str.split("_", expand=True)
    later = pd.to_datetime(parts[4]) + pd.Timedelta(days=40)
    parts[4] = later.dt.strftime("%Y%m%d")
    dups["product_id"] = parts.agg("_".join, axis=1)
    replay = base.sample(n=max(1, int(n_new * replay_frac)), random_state=rng)
    rows = pd.concat([fresh, dups, replay], ignore_index=True)
    rows = rows.sample(frac=1.0, random_state=rng).reset_index(drop=True)
    expected = dict(zip(fresh["scene_id"], fresh["product_id"]))
    expected.update(zip(dups["scene_id"], dups["product_id"]))
    return rows, expected


# -- corpus ---------------------------------------------------------------
# Shaped like the sf0.1 ``documents``/``embeddings`` fixtures: a 31-word
# vocabulary, 10–100 words per document, about 5% of documents a one-word
# edit of an earlier one (the fixture has 256 pairs at Jaccard >= 0.5 over
# 5,000 documents); 64-d unit vectors around 10 labels.

WORDS = (
    "scene tile band pixel orbit cloud swath path row date sensor image "
    "mask index time grid cube level stack patch water land snow shade "
    "haze edge frame zone level1 level2 level3"
).split()
NEAR_DUP_FRAC = 0.05


def _texts(rng: np.random.Generator, n: int, earlier: list[str]) -> list[str]:
    """``n`` texts; a NEAR_DUP_FRAC share copy an earlier text (from
    ``earlier`` or from this batch) with one word replaced."""
    out: list[str] = []
    for _ in range(n):
        pool = len(earlier) + len(out)
        if pool and rng.random() < NEAR_DUP_FRAC:
            j = int(rng.integers(0, pool))
            words = (earlier[j] if j < len(earlier) else out[j - len(earlier)]).split()
            words[int(rng.integers(0, len(words)))] = WORDS[int(rng.integers(0, len(WORDS)))]
        else:
            words = [WORDS[i] for i in rng.integers(0, len(WORDS), int(rng.integers(10, 101)))]
        out.append(" ".join(words))
    return out


def base_documents(seed: int, n: int) -> pd.DataFrame:
    """The stored corpus: doc ids 0 .. n-1."""
    rng = np.random.default_rng([seed, 3])
    return pd.DataFrame({"doc_id": np.arange(n, dtype=np.int64), "text": _texts(rng, n, [])})


def batch_documents(seed: int, month: int, n: int, base: pd.DataFrame) -> pd.DataFrame:
    """Batch ``month`` of ``n`` new documents, ids after the base and the
    earlier batches; near-duplicates copy base or same-batch documents."""
    rng = np.random.default_rng([seed, 4, month])
    first = len(base) + month * n
    return pd.DataFrame({
        "doc_id": np.arange(first, first + n, dtype=np.int64),
        "text": _texts(rng, n, base["text"].tolist()),
    })


def embeddings(seed: int, n: int, dim: int = 64, labels: int = 10) -> pd.DataFrame:
    """``n`` unit vectors scattered around ``labels`` random centres."""
    rng = np.random.default_rng([seed, 7])
    label = rng.integers(0, labels, n)
    vec = rng.normal(size=(labels, dim))[label] + 0.8 * rng.normal(size=(n, dim))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    return pd.DataFrame({"vec_id": np.arange(n, dtype=np.int64),
                         "embedding": list(vec), "label": label.astype(np.int32)})
