"""eodd_cli — command-line facade over the engine, mirroring the
reference's bin/ tools so an eodatadown user can run the same workflows:

    eoddchknewscns      → chknewscns   (index file → watermark ingest → dedup)
    eoddrunmonitoring   → process      (stage task fan-out, mocked runners)
    eoddrun -p          → runscn       (one scene through pending stages;
                                        also eoddrunscnmonitoring's surface)
    eoddsensorinfo      → summary      (single-pass counts + stats; --approx)
    eoddcreatereport    → report       (obs-date rollup → HTML)
    eoddexportdb/-imp   → export/import (JSON round trip)
    eoddgenscncmds      → gencmds      (HPC command lists, --split)
    eoddgenobsdatecmds  → genobsdatecmds (per-obs-date command lists)
    eoddsenroi          → roi          (drop scenes outside an ROI bbox)
    eoddpassencode      → passencode   (base64, driver-side)

Engine-only additions: dataprep (quality → dedup → near-dup →
temperature → split → chunk), corpusstats (KL/length/top-token audits).
Every catalog command takes --partition-monthly for the month-level
physical layout.

Usage: python eodd_cli.py <command> --catalog DIR [options]
"""

from __future__ import annotations

import argparse
import base64
import json
import os
import sys
import time

from pyspark.sql import functions as F


def _cat(args):
    from eodatadown_spark.catalog import ParquetCatalog
    from eodatadown_spark.session import get_spark

    spark = get_spark("eodd_cli")
    return ParquetCatalog(
        spark,
        args.catalog,
        partition_monthly=getattr(args, "partition_monthly", False),
    )


def cmd_init(args) -> None:
    """eoddsetup: initialise sensor catalog tables."""
    from eodatadown_spark.sensor import SENSORS, get_sensor_obj

    cat = _cat(args)
    names = args.sensors.split(",") if args.sensors else list(SENSORS)
    for name in names:
        get_sensor_obj(name, cat).init_sensor_db()
    print(f"initialised: {', '.join(names)}")


def cmd_chknewscns(args) -> None:
    from eodatadown_spark.sensor import get_sensor_obj
    from eodatadown_spark.sources.index_adapters import landsat_index_scenes

    cat = _cat(args)
    spark = cat.spark
    raw = (
        spark.read.option("header", True).csv(args.index)
        if args.index.endswith(".csv")
        else spark.read.parquet(args.index)
    )
    sensor = get_sensor_obj("LandsatGOOG", cat)
    if not cat.exists(sensor.table):
        sensor.init_sensor_db()
    n = sensor.check_new_scns(landsat_index_scenes(raw))
    print(f"added {n} scene(s); catalog now has {sensor.scenes().count()}")


def _stage_runners(catalog_dir: str) -> dict:
    """Mock stage runners of the CLI: products land under the catalog dir."""
    return {
        "download": lambda s: {"pid": s["pid"], "downloaded": True,
                               "download_path": f"{catalog_dir}/dl/{s['pid']}"},
        "con2ard": lambda s: {"pid": s["pid"], "ardproduct": True,
                              "ardproduct_path": f"{catalog_dir}/ard/{s['pid']}"},
        "datacube": lambda s: {"pid": s["pid"], "dcloaded": True},
    }


def cmd_process(args) -> None:
    from eodatadown_spark import pipeline, run
    from eodatadown_spark.sensor import get_sensor_obj

    cat = _cat(args)
    sensor = get_sensor_obj("LandsatGOOG", cat)
    todo = pipeline.scenes_need_processing(sensor.scenes())
    print(f"{todo.count()} scenes need processing")
    sensor.run_stage(
        sensor.get_scnlist_download(),
        _stage_runners(args.catalog)["download"],
        run.STAGES["download"][1],
    )
    print("download stage complete (mock runner)")


def cmd_summary(args) -> None:
    from eodatadown_spark import reports

    cat = _cat(args)
    catalog = cat.read_clean("landsat_scenes")
    print(json.dumps(reports.sensor_summary_counts(catalog).first().asDict()))
    # --approx: percentile_approx quartiles — the 100×-scale reporting path
    # (exact sort-based quartiles stay the default for oracle parity)
    stats = reports.column_stats(catalog, "total_size", approx=args.approx).first()
    print(json.dumps({f"size_{k}": v for k, v in stats.asDict().items()}))


def cmd_report(args) -> None:
    from eodatadown_spark import reports
    from eodatadown_spark.datereports import render_date_report_html

    cat = _cat(args)
    catalog = cat.read_clean("landsat_scenes")
    obs, bridge = reports.build_obs_date_records(catalog, "LandsatGOOG")
    render_date_report_html(
        reports.get_obs_scns(obs), "EODD date report", "LandsatGOOG", args.out
    )
    print(f"wrote {args.out}")


def cmd_export(args) -> None:
    cat = _cat(args)
    cat.export_json("landsat_scenes", args.out)
    print(f"wrote {args.out}")


def cmd_import(args) -> None:
    cat = _cat(args)
    replace = dict([args.replace_path.split("=", 1)]) if args.replace_path else None
    cat.import_json("landsat_scenes", args.infile, replace_path_dict=replace)
    print(f"imported {cat.read_clean('landsat_scenes').count()} scenes")


def cmd_jaxafilelist(args) -> None:
    """CreateLclJAXAFileLst: per-year JAXA SAR mosaic file lists →
    gzip JSON (ref sep_utils/CreateLclJAXAFileLst.py end-to-end)."""
    from eodatadown_spark.sensor import get_sensor_obj

    cat = _cat(args)
    sensor = get_sensor_obj("JAXASARTiles", cat)
    if not cat.exists(sensor.table):
        sensor.init_sensor_db()
    if args.import_json:
        n = sensor.import_file_lists(args.import_json)
        print(f"imported {n} tile record(s)")
    years = (
        [int(y) for y in args.years.split(",")] if args.years else None
    )
    sensor.export_year_file_lists(args.out, years)
    print(f"wrote {args.out}")


def cmd_dedupindex(args) -> None:
    """Continuous-dedup lifecycle as a CLI: --build stores the banded
    MinHash index + shingle fingerprints + cluster assignments (versioned
    ParquetCatalog tables, atomic flips); --probe checks a new batch
    against the stored index WITHOUT re-banding the corpus, and --apply
    additionally folds the batch in — update_clusters re-resolves only
    touched components, and the batch's own index/fingerprint rows append
    so the next probe sees it.  One JSON stats line per invocation.

    ``--family simhash`` swaps in the SimHash band index (single table —
    the sketch rides in the index rows, verification is one XOR+popcount;
    pairs carry ``hamming`` instead of ``jaccard``, thresholded by
    --max-hamming under the banding's pigeonhole guarantee).

    ``--family prefix`` swaps the approximate MinHash banding for the
    EXACT-Jaccard prefix index (jaccard_prefix_index /
    jaccard_prefix_against_index): --build stores prefix rows + the
    order-defining frozen frequency table + fingerprints; probes rank the
    batch under that frozen order, so pairs are exact at the configured
    threshold — the dedup-exactness tradeoff becomes a CLI flag.  The
    freq table is never updated by --apply (order-consistency contract);
    rebuild a fresh index when probe candidate volume drifts up.

    CONCURRENCY CONTRACT: --apply commits are race-safe (index/fingerprint
    appends are OCC + replay-idempotent; the clusters fold commits through
    replace_derived's base-checked flip), so concurrent --apply runs
    serialize without losing folds.  --build is a from-scratch
    SINGLE-WRITER replace of all three state tables: it
    must not run concurrently with --apply — an apply landing between
    --build's three writes would fold into state --build is about to
    replace.  Rebuild quiesced, like reindexing any store."""
    from eodatadown_spark.catalog import ParquetCatalog
    from eodatadown_spark.operators import dedup as D
    from eodatadown_spark.session import get_spark

    if bool(args.build) == bool(args.probe):
        args._parser.error("exactly one of --build or --probe is required")
    if args.apply and not args.probe:
        args._parser.error("--apply requires --probe")

    spark = get_spark("eodd_cli")
    cat = ParquetCatalog(spark, args.index_dir)
    meta_path = os.path.join(args.index_dir, "dedup_meta.json")
    if args.build:
        params = {
            "k": args.k, "num_perm": args.num_perm, "bands": args.bands,
            "threshold": args.jaccard, "family": args.family,
        }
        docs = spark.read.parquet(args.build)
        if args.family == "simhash":
            # pigeonhole guarantee requires bands > max_hamming, like
            # _simhash_banded's own divisibility check — fail loudly
            # instead of silently under-deduplicating
            n_bits = 60
            if n_bits // args.band_bits <= args.max_hamming:
                raise SystemExit(
                    f"--band-bits {args.band_bits} gives "
                    f"{n_bits // args.band_bits} bands, which must EXCEED "
                    f"--max-hamming {args.max_hamming} for the pigeonhole "
                    f"recall guarantee; lower --band-bits or --max-hamming"
                )
            # meta records ONLY parameters this family consumes — k/
            # num_perm/bands are MinHash identity, not SimHash's
            params = {
                "family": "simhash", "max_hamming": args.max_hamming,
                "band_bits": args.band_bits, "threshold": None,
            }
            index = D.simhash_band_index(
                docs, band_bits=args.band_bits
            )
            pairs = D.simhash_neardup_pairs(
                docs, max_hamming=args.max_hamming, band_bits=args.band_bits
            )
            clusters = D.neardup_clusters(
                docs, pairs=pairs.select("id_a", "id_b")
            )
            cat.write(index, "simhash_index", partition=False)
        elif args.family == "prefix":
            prefix, freq, fps = D.jaccard_prefix_index(
                docs, k=params["k"], threshold=params["threshold"]
            )
            pairs = D.jaccard_prefix_self_pairs(
                prefix, fps, threshold=params["threshold"]
            )
            clusters = D.neardup_clusters(
                docs, pairs=pairs.select("id_a", "id_b")
            )
            cat.write(prefix, "prefix_index", partition=False)
            cat.write(freq, "prefix_freq", partition=False)
            cat.write(fps, "fingerprints_exact", partition=False)
        else:
            index = D.minhash_band_index(
                docs, k=params["k"], num_perm=params["num_perm"],
                bands=params["bands"],
            )
            fps = D.shingle_hash_table(docs, k=params["k"])
            pairs = D.minhash_neardup_pairs(
                docs, k=params["k"], num_perm=params["num_perm"],
                bands=params["bands"], jaccard_threshold=params["threshold"],
            )
            clusters = D.neardup_clusters(
                docs, pairs=pairs.select("id_a", "id_b")
            )
            cat.write(index, "band_index", partition=False)
            cat.write(fps, "fingerprints", partition=False)
        cat.write(clusters, "clusters", partition=False)
        os.makedirs(args.index_dir, exist_ok=True)
        with open(meta_path, "w", encoding="utf-8") as fh:
            json.dump(params, fh)
        print(json.dumps({
            "built": True, "docs": docs.count(),
            "clusters": clusters.where(F.col("is_canonical")).count(),
            **params,
        }))
        return
    with open(meta_path, encoding="utf-8") as fh:
        params = json.load(fh)
    batch = spark.read.parquet(args.probe)
    family = params.get("family", "minhash")
    if args.apply:
        # shared replay-safe cores (streaming/incremental), which probe the
        # batch themselves and return its stats: idempotent
        # index/fingerprint appends first, clusters commit LAST — a crash
        # between the catalog commits is repaired by re-running the batch
        from eodatadown_spark.streaming.incremental import (
            apply_neardup_batch,
            apply_prefix_batch,
            apply_simhash_batch,
        )

        if family == "simhash":
            stats = apply_simhash_batch(
                cat, batch, max_hamming=params["max_hamming"],
                band_bits=params["band_bits"],
            )
        elif family == "prefix":
            stats = apply_prefix_batch(
                cat, batch, k=params["k"], threshold=params["threshold"]
            )
        else:
            stats = apply_neardup_batch(
                cat, batch, k=params["k"], num_perm=params["num_perm"],
                bands=params["bands"], jaccard_threshold=params["threshold"],
            )
        stats["clusters"] = cat.read("clusters").where(
            F.col("is_canonical")).count()
        stats["applied"] = True
        print(json.dumps(stats))
        return
    if family == "simhash":
        pairs = D.simhash_neardup_against_index(
            batch, cat.read("simhash_index"),
            max_hamming=params["max_hamming"], band_bits=params["band_bits"],
        ).localCheckpoint()
    elif family == "prefix":
        pairs = D.jaccard_prefix_against_index(
            batch, cat.read("prefix_index"),
            cat.read("prefix_freq"),
            cat.read("fingerprints_exact"), k=params["k"],
            threshold=params["threshold"],
        ).localCheckpoint()
    else:
        pairs = D.minhash_neardup_against_index(
            batch, cat.read("band_index"),
            cat.read("fingerprints"),
            k=params["k"], num_perm=params["num_perm"],
            bands=params["bands"], jaccard_threshold=params["threshold"],
        ).localCheckpoint()
    print(json.dumps({"batch_docs": batch.count(), "new_pairs": pairs.count()}))


def cmd_spanindex(args) -> None:
    """ExactSubstr span-index lifecycle (dedup.span_hash_index family):
    --build stores the (wh, cnt, n_docs) window-hash counts + meta
    (window is part of the index identity); --probe reports per-batch-doc
    duplicated-span stats over the UNION corpus without re-reading the
    indexed documents (counts are exactly additive — probe == from-
    scratch union run restricted to the batch); --apply additionally
    counter-folds the batch in through the OCC flip
    (streaming.incremental.apply_span_index_batch — replay-idempotent
    via per-batch sentinels), so the next probe sees it.  One JSON stats
    line per invocation.  Same single-writer contract as dedupindex:
    --build replaces the state table and must not race --apply.

    ``--unit char`` indexes character windows (Lee et al.'s native
    granularity; unit is index identity alongside window — probes reuse
    the stored value)."""
    from eodatadown_spark.catalog import ParquetCatalog
    from eodatadown_spark.operators import dedup as D
    from eodatadown_spark.session import get_spark

    if bool(args.build) == bool(args.probe):
        args._parser.error("exactly one of --build or --probe is required")
    if args.apply and not args.probe:
        args._parser.error("--apply requires --probe")
    spark = get_spark("eodd_cli")
    cat = ParquetCatalog(spark, args.index_dir)
    meta_path = os.path.join(args.index_dir, "span_meta.json")
    if args.build:
        docs = spark.read.parquet(args.build)
        idx = D.span_hash_index(docs, window=args.window, unit=args.unit)
        cat.write(idx, "span_index", partition=False)
        os.makedirs(args.index_dir, exist_ok=True)
        with open(meta_path, "w", encoding="utf-8") as fh:
            json.dump({"window": args.window, "unit": args.unit}, fh)
        print(json.dumps({
            "built": True, "docs": docs.count(),
            "table_rows": cat.read("span_index").count(),
            "window": args.window, "unit": args.unit,
        }))
        return
    with open(meta_path, encoding="utf-8") as fh:
        params = json.load(fh)
    unit = params.get("unit", "token")
    dup_col = "dup_chars" if unit == "char" else "dup_tokens"
    batch = spark.read.parquet(args.probe)
    stored = cat.read("span_index").where(F.col("wh") >= 0)
    stats_df = D.duplicated_spans_against_index(
        batch, stored, window=params["window"], unit=unit
    )
    agg = stats_df.agg(
        F.count(F.lit(1)).alias("batch_docs"),
        F.sum((F.col("n_dup_spans") > 0).cast("long")).alias(
            "docs_with_spans"
        ),
        F.sum(dup_col).alias("dup_units"),
    ).first()
    stats = {
        "batch_docs": agg["batch_docs"],
        "docs_with_spans": int(agg["docs_with_spans"] or 0),
        dup_col: int(agg["dup_units"] or 0),
    }
    if args.apply:
        from eodatadown_spark.streaming.incremental import (
            apply_span_index_batch,
        )

        r = apply_span_index_batch(
            cat, batch, window=params["window"], unit=unit
        )
        stats["applied"] = True
        stats["table_rows"] = r["table_rows"]
    print(json.dumps(stats))


def cmd_annindex(args) -> None:
    """Persistent ANN-index lifecycle, two families behind one CLI.
    ``--kind`` picks the family at --build; --add and --query read it from
    the committed ann_meta.json.

    - ``--kind ivf`` (default): --build trains a k-means coarse quantizer
      and stores centroids + inverted lists (each vector filed under its
      nearest centroid, vector included); --add assigns a new batch against
      the STORED centroids and appends its list rows (OCC append, anti-join
      replay-safe); --query probes the stored index — only the probed
      cells' list rows are read, the corpus never is.
    - ``--kind sq8``: --build trains per-dim min/max scalars and stores
      1-byte/dim code + raw-vector tables under GENERATION names; the
      atomic replace of ann_meta.json (scalars + table names together) is
      the SINGLE commit point, so a crash or concurrent --query
      mid-rebuild keeps reading the old consistent (scalars, codes,
      vectors) triple — stale scalars silently dequantize new codes to
      wrong shortlists, which is why the pairing can never be observed
      torn.  --add encodes a new batch with the STORED scalars (never
      re-trains — re-trained scalars would strand the existing codes;
      anti-join replay-safe); --query scans only the codes for the
      dequantized shortlist and fetches raw vectors for the shortlist rows
      alone (q155's plan).  Superseded generations are debris; ``--gc``
      removes every generation table the committed meta no longer names
      (safe alongside live queries — only unreferenced dirs go).

    One JSON stats line per invocation.  Same single-writer contract as
    dedupindex: --build replaces the state tables and must not race --add."""
    from eodatadown_spark.catalog import ParquetCatalog
    from eodatadown_spark.operators import similarity as S
    from eodatadown_spark.session import get_spark

    faces = [bool(args.build), bool(args.add), bool(args.query), args.gc]
    if sum(faces) != 1:
        args._parser.error(
            "exactly one of --build / --add / --query / --gc is required")

    spark = get_spark("eodd_cli")
    cat = ParquetCatalog(spark, args.index_dir)
    meta_path = os.path.join(args.index_dir, "ann_meta.json")
    if args.gc:
        # drop superseded sq8 generations: table dirs matching the
        # generation naming scheme that the COMMITTED meta no longer
        # references.  Safe alongside live queries (only unreferenced dirs
        # go) AND alongside a concurrent --build: generation names carry
        # the build's time_ns, so anything NEWER than the committed
        # generation is an in-flight build whose meta commit hasn't landed
        # yet — skipped, never deleted (a gc that raced it would leave the
        # new meta pointing at half-written tables).
        import shutil as _shutil

        if not os.path.exists(meta_path):
            print(json.dumps({
                "gc": True, "removed": [],
                "error": f"no committed index: {meta_path} missing",
            }))
            raise SystemExit(1)
        with open(meta_path, encoding="utf-8") as fh:
            meta = json.load(fh)
        keep = {meta.get("codes_table"), meta.get("vectors_table")}

        def _gen_ns(name: str) -> int:
            # "sq8_codes_g1755..." / "vectors_g1755..." -> int ns, else -1
            tail = name.rsplit("_g", 1)
            try:
                return int(tail[1]) if len(tail) == 2 else -1
            except ValueError:
                return -1

        committed_ns = max(
            (_gen_ns(t) for t in keep if t), default=-1
        )
        # grace window: a generation OLDER than the committed one can still
        # be an in-flight build (slow build A started before fast build B
        # committed) — its dir mtime is fresh while it writes, so recently-
        # modified dirs are skipped too.  A build that stalls longer than
        # the grace mid-write is outside the contract (rebuild quiesced).
        # --gc-grace-s=0 disables the window (known-quiesced maintenance).
        grace_s = args.gc_grace_s
        removed, skipped_inflight = [], []
        for d in sorted(os.listdir(args.index_dir)):
            if not (d.startswith("sq8_codes_g") or d.startswith("vectors_g")):
                continue
            if d in keep:
                continue
            full = os.path.join(args.index_dir, d)
            try:
                fresh = (time.time() - os.path.getmtime(full)) < grace_s
            except OSError:
                fresh = True
            if _gen_ns(d) > committed_ns or fresh:
                skipped_inflight.append(d)
                continue
            _shutil.rmtree(full, ignore_errors=True)
            removed.append(d)
        print(json.dumps({
            "gc": True, "removed": removed,
            "skipped_inflight": skipped_inflight,
        }))
        return
    if args.build:
        kind = args.kind
    else:
        # --add/--query follow the family the committed index was built
        # as; a meta without "kind" predates the ivf build recording it
        with open(meta_path, encoding="utf-8") as fh:
            meta = json.load(fh)
        kind = meta.get("kind", "ivf")
    if kind == "sq8":
        if args.build:
            corpus = spark.read.parquet(args.build)
            mins, steps = S.sq8_train(corpus)
            # scalars and codes must never be observed mismatched (stale
            # scalars dequantize new codes to silently wrong shortlists),
            # and two catalog tables can't commit atomically — so each
            # build writes GENERATION-NAMED tables and the atomic
            # os.replace of ann_meta.json (which names them + carries the
            # matching scalars) is the single commit point: a crash or a
            # concurrent --query mid-rebuild keeps reading the OLD
            # consistent (scalars, codes, vectors) triple.
            gen = f"g{time.time_ns()}"
            codes_table, vectors_table = f"sq8_codes_{gen}", f"vectors_{gen}"
            cat.write(
                S.sq8_build_codes(corpus, (mins, steps)), codes_table,
                partition=False,
            )
            cat.write(
                corpus.select("vec_id", "embedding"), vectors_table,
                partition=False,
            )
            os.makedirs(args.index_dir, exist_ok=True)
            tmp_meta = meta_path + ".tmp"
            with open(tmp_meta, "w", encoding="utf-8") as fh:
                json.dump({
                    "kind": "sq8", "mins": mins, "steps": steps,
                    "codes_table": codes_table, "vectors_table": vectors_table,
                }, fh)
            os.replace(tmp_meta, meta_path)  # commit
            print(json.dumps({"built": True, "kind": "sq8",
                              "vectors": corpus.count()}))
            return
        scalars = (meta["mins"], meta["steps"])
        codes_table = meta.get("codes_table", "sq8_codes")
        vectors_table = meta.get("vectors_table", "vectors")
        codes = cat.read(codes_table)
        if args.add:
            batch = spark.read.parquet(args.add)
            # vectors commit FIRST: a crash between the two appends must
            # leave un-probed raw vectors (sound — the batch just isn't
            # indexed yet, replay finishes it), never codes whose rerank
            # rows are missing (the fetch join would silently drop them)
            cat.append(
                vectors_table,
                batch.select("vec_id", "embedding").join(
                    cat.read(vectors_table).select("vec_id").distinct(),
                    "vec_id", "left_anti",
                ),
            )
            new_codes = S.sq8_build_codes(batch, scalars).join(
                codes.select("vec_id").distinct(), "vec_id", "left_anti"
            )
            cat.append(codes_table, new_codes)
            print(json.dumps({
                "added": True, "kind": "sq8",
                "batch_vectors": batch.count(),
                "index_vectors": cat.read(codes_table).count(),
            }))
            return
        qs = spark.read.parquet(args.query).select(
            F.col("vec_id").alias("query_id"), "embedding"
        )
        res = S.sq8_topk_against_codes(
            codes, cat.read(vectors_table), qs, scalars,
            k=args.k, shortlist=args.shortlist,
        ).select("query_id", "neighbor_id", "rank")
        if args.out:
            res.write.mode("overwrite").parquet(args.out)
        print(json.dumps({
            "queries": qs.count(), "result_rows": res.count(),
            "k": args.k, "kind": "sq8", "shortlist": args.shortlist,
        }))
        return
    if args.build:
        corpus = spark.read.parquet(args.build)
        cents = S.kmeans_centroids(corpus, k=args.centroids)
        lists = S.ivf_build_lists(corpus, cents)
        cat.write(cents, "centroids", partition=False)
        cat.write(lists, "ivf_lists", partition=False)
        os.makedirs(args.index_dir, exist_ok=True)
        with open(meta_path, "w", encoding="utf-8") as fh:
            json.dump({"kind": "ivf", "n_centroids": args.centroids}, fh)
        print(json.dumps({
            "built": True, "vectors": corpus.count(),
            "n_centroids": args.centroids,
        }))
        return
    cents = cat.read("centroids")
    lists = cat.read("ivf_lists")
    if args.add:
        batch = spark.read.parquet(args.add)
        # assign against the STORED centroids (never re-train — a re-trained
        # quantizer would strand the existing lists); anti-join makes a
        # replayed batch a no-op
        new_rows = S.ivf_build_lists(batch, cents).join(
            lists.select("neighbor_id").distinct(), "neighbor_id", "left_anti"
        )
        cat.append("ivf_lists", new_rows)
        print(json.dumps({
            "added": True, "batch_vectors": batch.count(),
            "index_vectors": cat.read("ivf_lists").count(),
        }))
        return
    qs = spark.read.parquet(args.query).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    res = S.ivf_topk_against_index(
        lists, cents, qs, k=args.k, n_probe=args.n_probe
    ).select("query_id", "neighbor_id", "rank")
    if args.out:
        res.write.mode("overwrite").parquet(args.out)
    stats = {"queries": qs.count(), "result_rows": res.count(),
             "k": args.k, "n_probe": args.n_probe}
    print(json.dumps(stats))


def cmd_gencmds(args) -> None:
    from eodatadown_spark import sinks

    cat = _cat(args)
    paths = sinks.write_command_lists(
        cat.read_clean("landsat_scenes"), args.template, args.out, args.split
    )
    print(f"wrote {len(paths)} file(s)")


def cmd_roi(args) -> None:
    from eodatadown_spark import schemas
    from eodatadown_spark.sensor import get_sensor_obj

    cat = _cat(args)
    w, s, e, n = (float(x) for x in args.bbox.split(","))
    roi = cat.spark.createDataFrame(
        [{"roi_id": 1, "name": "cli", "west_lon": w, "east_lon": e,
          "south_lat": s, "north_lat": n, "wkt": None}],
        schema=schemas.ROI_POLYGONS,
    )
    sensor = get_sensor_obj("LandsatGOOG", cat)
    sensor.rm_scns_intersect(roi)
    print(f"kept {sensor.scenes().count()} scenes inside ROI")


def cmd_runscn(args) -> None:
    """eoddrun -p / eoddrunscnmonitoring: drive the state machine for ONE
    scene — each pending stage for that pid advances with a batched
    partition-selective merge (never a whole-catalog rewrite)."""
    from eodatadown_spark import run
    from eodatadown_spark.sensor import get_sensor_obj

    cat = _cat(args)
    sensor = get_sensor_obj(args.sensor, cat)
    sensor.get_scn_record(args.pid)  # F10 .one(): raises if pid unknown
    ran = []
    runners = _stage_runners(args.catalog)
    # the sensor facade's own stage-list wrappers, so a subclass that
    # customizes them keeps runscn consistent with process/monitoring
    for name, (getter, ddl, _default) in run.STAGES.items():
        todo = getattr(sensor, getter)().where(F.col("pid") == args.pid)
        if todo.count():
            sensor.run_stage(todo, runners[name], ddl)
            ran.append(name)
    print(json.dumps({"pid": args.pid, "stages_run": ran}))


def cmd_genobsdatecmds(args) -> None:
    """eoddgenobsdatecmds: one shell command per obs-date needing an update
    (engine op reports.obs_date_command_lines; {sensor}/{platform}/{date}
    placeholders); any sensor, --split supported."""
    from eodatadown_spark.reports import obs_date_command_lines
    from eodatadown_spark.sensor import get_sensor_obj
    from eodatadown_spark.sinks import write_split_lines

    cat = _cat(args)
    sensor = get_sensor_obj(args.sensor, cat)
    obs, _bridge = sensor.build_obs_date_records(args.sensor)
    cmds = [r["cmd"]
            for r in obs_date_command_lines(obs, args.template, args.sensor).collect()]
    paths = write_split_lines(cmds, args.out, args.split)
    print(f"wrote {len(cmds)} command(s) to {len(paths)} file(s)")


def cmd_corpusstats(args) -> None:
    """Corpus audit report: per-language doc/token counts + KL divergence
    from the corpus mix, log2 length histogram, top-k tokens per language —
    one JSON line per section (the pre-training-mix decision inputs)."""
    from eodatadown_spark.operators.corpus import (
        group_kl_divergence,
        length_histogram,
        topk_tokens,
    )
    from eodatadown_spark.session import get_spark

    spark = get_spark("eodd_cli")
    docs = spark.read.parquet(args.infile)
    missing = {"lang", "text"} - set(docs.columns)
    if missing:
        raise SystemExit(
            f"corpusstats needs columns {sorted(missing)} missing from the "
            f"input (columns: {docs.columns})"
        )
    kl = [r.asDict() for r in group_kl_divergence(docs).orderBy("group").collect()]
    hist = [r.asDict() for r in length_histogram(docs, args.len_col)
            .orderBy("len_bucket").collect()] if args.len_col in docs.columns else []
    top = [r.asDict() for r in topk_tokens(docs, k=args.topk)
           .orderBy("group", "rank").collect()]
    print(json.dumps({"kl_by_group": kl}))
    print(json.dumps({"length_histogram": hist}))
    print(json.dumps({"top_tokens": top}))
    # optional: Count-Min cross-check of the exact heavy hitters — the
    # sketch a 100 TB run would consult INSTEAD of the exact pass; here
    # both are printed so estimate drift is visible (est >= exact always)
    if args.heavy_hitters:
        from eodatadown_spark.operators.corpus import token_array
        from eodatadown_spark.operators.merge import (
            build_count_min,
            count_min_estimate,
        )

        toks = docs.select(F.explode(token_array("text")).alias("token"))
        exact = toks.groupBy("token").agg(F.count("*").alias("exact_cnt"))
        top_n = exact.orderBy(
            F.col("exact_cnt").desc(), F.col("token")
        ).limit(args.heavy_hitters)
        cms = build_count_min(toks, "token", depth=4, width=args.cms_width)
        est = count_min_estimate(
            cms, top_n.select("token"), "token", 4, args.cms_width
        )
        hh = [
            r.asDict()
            for r in top_n.join(est, "token")
            .orderBy(F.col("exact_cnt").desc(), F.col("token"))
            .collect()
        ]
        print(json.dumps({"heavy_hitters": hh}))


def cmd_passencode(args) -> None:
    print(base64.b64encode(args.password.encode()).decode())


def cmd_exportvector(args) -> None:
    """eoddexport --exportvector: scene footprints → GeoJSON (K2)."""
    from eodatadown_spark import sinks

    cat = _cat(args)
    n = sinks.export_geojson(cat.read_clean("landsat_scenes"), args.out)
    print(f"wrote {n} feature(s) to {args.out}")


def cmd_pluginreport(args) -> None:
    """eoddpluginreport: per-plugin tallies (A10)."""
    from eodatadown_spark.reports import plugin_status_tallies

    cat = _cat(args)
    if not cat.exists("plugin_results"):
        print("no plugin_results table")
        return
    for r in plugin_status_tallies(cat.read_clean("plugin_results")).collect():
        print(json.dumps(r.asDict()))


def cmd_reset(args) -> None:
    """eoddresetimgs: clear download/ARD/DC state (M6)."""
    from eodatadown_spark.pipeline import reset_download_state

    cat = _cat(args)
    pids = [int(p) for p in args.pids.split(",")] if args.pids else None
    # derived from the stored rows, so it commits through the base-checked
    # flip (merge_updates coalesces NULLs and could not clear timestamps)
    cat.replace_derived(
        "landsat_scenes", lambda cur: reset_download_state(cur, pids)
    )
    print(f"reset {'all' if pids is None else len(pids)} scene(s)")


def cmd_buildobsdates(args) -> None:
    """eoddobsdatetools: (re)build the obs-date rollup + bridge (A9)."""
    from eodatadown_spark.reports import build_obs_date_records

    cat = _cat(args)
    obs, bridge = build_obs_date_records(cat.read_clean("landsat_scenes"), "LandsatGOOG")
    cat.write(obs, "obs_dates", partition=False)
    cat.write(bridge, "obs_date_scns", partition=False)
    print(f"obs_dates={cat.read_clean('obs_dates').count()} "
          f"bridge={cat.read_clean('obs_date_scns').count()}")


def cmd_procobsdata(args) -> None:
    """eodatadownrun obsdate path: walk the obsdate worklist, run the
    (stubbed) overview kernel per obsdate, commit overview marks (ref
    eodatadownsensor.py:605 create_obsdate_visual)."""
    from eodatadown_spark.sensor import get_sensor_obj

    cat = _cat(args)
    sensor = get_sensor_obj(args.sensor, cat)
    sizes = tuple(int(s) for s in args.sizes.split(","))
    n = sensor.create_obsdate_visual(img_sizes=sizes, base_dir=args.outdir)
    remaining = sensor.get_lst_obsdates_need_processing().count()
    print(f"processed {n} obsdate(s); {remaining} remaining")


def cmd_bpetrain(args) -> None:
    """Train a BPE merge list on a documents parquet; write merges JSON and
    print one stats line (optionally with per-doc subword counts)."""
    from eodatadown_spark.operators.corpus import bpe_token_counts, train_bpe
    from eodatadown_spark.session import get_spark

    spark = get_spark("eodd_cli")
    docs = spark.read.parquet(args.infile)
    merges = train_bpe(docs, n_merges=args.merges)
    with open(args.out, "w", encoding="utf-8") as fh:
        json.dump([list(m) for m in merges], fh)
    stats = {"n_merges": len(merges), "out": args.out}
    if args.counts_out:
        bpe_token_counts(docs, merges).write.mode("overwrite").parquet(args.counts_out)
        # aggregate from the written parquet — re-running the tokenize DAG
        # for one sum would double the job cost at corpus scale
        stats["total_bpe_tokens"] = (
            spark.read.parquet(args.counts_out)
            .agg(F.sum("n_tokens_bpe").alias("s"))
            .first()["s"]
        )
        stats["counts_out"] = args.counts_out
    print(json.dumps(stats))


def cmd_classify(args) -> None:
    """Learned quality-filter lifecycle as a CLI (operators/classify):
    --train fits the hashed-unigram logistic gate and persists a
    self-describing weights JSON (atomic tmp+rename — every
    hyperparameter needed to reproduce scoring rides in the artifact, so
    a stored model scores identically across sessions); --score writes
    per-doc probabilities; --gate writes the rows passing --threshold;
    --eval prints the confusion matrix + precision/recall/F1 against the
    label.  Label source: --label-col (boolean column in the parquet) or,
    by default, the engine's language_guess rule — the rule→model
    distillation q167 exercises.  One JSON line per invocation."""
    from eodatadown_spark.operators import classify as C
    from eodatadown_spark.operators.text import language_guess
    from eodatadown_spark.session import get_spark

    actions = [a for a in (args.train, args.score, args.gate, args.eval_src) if a]
    if len(actions) != 1:
        print(json.dumps({"error": "exactly one of --train/--score/--gate/--eval required"}))
        raise SystemExit(2)
    spark = get_spark("eodd_cli")

    def _label(text_col):
        if args.label_col:
            return F.col(args.label_col).cast("boolean")
        return language_guess(F.col(text_col)) == "en"

    if args.train:
        docs = spark.read.parquet(args.train)
        w = C.train_quality_classifier(
            docs,
            label=_label(args.text_col),
            n_features=args.features,
            iters=args.iters,
            lr=args.lr,
            binary=args.binary,
            id_col=args.id_col,
            text_col=args.text_col,
        )
        meta = {
            "format": 1,
            "n_features": args.features,
            "iters": args.iters,
            "lr": args.lr,
            "binary": args.binary,
            "label_col": args.label_col,
            "id_col": args.id_col,
            "text_col": args.text_col,
            "weights": w,
        }
        tmp = args.weights + ".tmp"
        with open(tmp, "w", encoding="utf-8") as fh:
            json.dump(meta, fh)
        os.replace(tmp, args.weights)
        print(json.dumps({"trained_on": args.train, "bias": round(w[-1], 6),
                          "n_features": args.features, "weights_out": args.weights}))
        return

    if not os.path.exists(args.weights):
        print(json.dumps({"error": f"weights file not found: {args.weights}"}))
        raise SystemExit(2)
    with open(args.weights, encoding="utf-8") as fh:
        meta = json.load(fh)
    src = args.score or args.gate or args.eval_src
    docs = spark.read.parquet(src)

    if args.eval_src:
        # label precedence: explicit --label-col, else the column the
        # artifact was TRAINED with, else the language_guess rule — so an
        # eval without flags measures against the training contract
        if not args.label_col and meta.get("label_col"):
            args.label_col = meta["label_col"]
        feat = C.hashed_features(
            docs,
            meta["n_features"],
            id_col=meta["id_col"],
            text_col=meta["text_col"],
            label=_label(meta["text_col"]),
            binary=meta["binary"],
        )
        row = C.evaluate_gate(feat, meta["weights"], threshold=args.threshold).first()
        print(json.dumps({"eval_on": src, **row.asDict()}))
        return

    if args.out is None:
        print(json.dumps({"error": "--score/--gate require --out"}))
        raise SystemExit(2)
    if args.score:
        out_df = C.score_documents(
            docs, meta["weights"], id_col=meta["id_col"],
            text_col=meta["text_col"], binary=meta["binary"],
        )
    else:
        out_df = C.quality_filter(
            docs, meta["weights"], threshold=args.threshold,
            id_col=meta["id_col"], text_col=meta["text_col"],
            binary=meta["binary"],
        )
    out_df.write.mode("overwrite").parquet(args.out)
    n = spark.read.parquet(args.out).count()
    print(json.dumps({"rows": n, "out": args.out,
                      "action": "score" if args.score else "gate"}))


def cmd_fsck(args) -> None:
    """Catalog health report: pointer validity, orphan version dirs from
    crashed writes, hard-link sharing between retained versions."""
    cat = _cat(args)
    print(json.dumps(cat.fsck(args.table), default=str))


def cmd_versions(args) -> None:
    """List a table's readable (time-travelable) versions."""
    cat = _cat(args)
    readable = cat.list_versions(args.table)
    # public surface only; current == newest readable, emitted as an int so
    # the JSON is self-consistent ("is current in readable?" is a plain
    # membership check)
    print(json.dumps({
        "table": args.table,
        "current": readable[-1] if readable else None,
        "readable": readable,
    }))


def cmd_merge(args) -> None:
    """Catalog MERGE: fold a source parquet into a catalog table.

    --mode upsert  (default): matched rows take the source's same-named
                   non-key columns, unmatched source rows insert;
    --mode delete: keys present in the source are deleted.
    Partition-selective underneath (catalog.ParquetCatalog.merge_into)."""
    from eodatadown_spark.catalog import PARTITION_SOURCE
    from eodatadown_spark.session import get_spark

    cat = _cat(args)
    spark = get_spark("eodd_cli")
    source = spark.read.parquet(args.source)
    on = args.on.split(",")
    n_source = source.count()
    if args.mode == "delete":
        cat.merge_into(
            args.table, source.select(*on), on,
            when_matched_delete=F.lit(True),
            when_not_matched_insert=False,
        )
    else:
        target_cols = set(cat.read_clean(args.table).columns)
        # partition-source / physical partition columns can't be updated
        # in place (a date change moves the row's partition) — full-row
        # sources naturally carry them, so exclude rather than fail
        frozen = {PARTITION_SOURCE.get(args.table), "p_year", "p_month"}
        upd = {
            c: F.col(f"s.{c}")
            for c in source.columns
            if c in target_cols and c not in on and c not in frozen
        }
        cat.merge_into(
            args.table, source, on,
            when_matched_update=upd or None,
            when_not_matched_insert=True,
        )
    print(json.dumps({"table": args.table, "mode": args.mode,
                      "source_rows": n_source}))


def cmd_cdcdiff(args) -> None:
    """CDC between two parquet snapshots → change-set parquet
    (keys + change_type).  Snapshots are either plain parquet paths
    (--old/--new) or two versions of a catalog table
    (--catalog --table --from-version --to-version via time travel)."""
    from eodatadown_spark.operators.merge import diff_snapshots
    from eodatadown_spark.session import get_spark

    spark = get_spark("eodd_cli")
    if args.table:
        if not getattr(args, "catalog", None):
            raise SystemExit("cdcdiff --table requires --catalog")
        if args.from_version is None:
            raise SystemExit("cdcdiff --table requires --from-version")
        cat = _cat(args)
        old = cat.read_version(args.table, args.from_version)
        new = (
            cat.read_version(args.table, args.to_version)
            if args.to_version is not None
            else cat.read(args.table)
        )
        # drop() ignores absent columns, so flat tables pass through
        old = old.drop("p_year", "p_month")
        new = new.drop("p_year", "p_month")
    elif args.old and args.new:
        old = spark.read.parquet(args.old)
        new = spark.read.parquet(args.new)
    else:
        raise SystemExit("cdcdiff needs --old/--new or --catalog/--table/--from-version")
    diff = diff_snapshots(old, new, args.keys.split(","))
    diff.write.mode("overwrite").parquet(args.out)
    # count from the (small) written change-set, not by re-running the
    # full-outer join over the snapshots a second time
    written = spark.read.parquet(args.out)
    counts = {r["change_type"]: r["n"] for r in
              written.groupBy("change_type").agg(F.count("*").alias("n")).collect()}
    print(json.dumps({"out": args.out, **counts}))


def cmd_sample(args) -> None:
    """Deterministic weighted sample (A-ES) of a documents parquet."""
    from eodatadown_spark.operators.corpus import weighted_sample
    from eodatadown_spark.session import get_spark

    spark = get_spark("eodd_cli")
    df = spark.read.parquet(args.infile)
    out = weighted_sample(
        df, args.weight_col, args.k, id_col=args.id_col, seed=args.seed
    )
    out.write.mode("overwrite").parquet(args.out)
    n = spark.read.parquet(args.out).count()  # count the written sample
    print(json.dumps({"out": args.out, "k": args.k, "rows": n}))


def cmd_zorder(args) -> None:
    """Rewrite a parquet table Z-order-clustered on two numeric columns so
    bbox scans prune at the file/row-group level."""
    from eodatadown_spark.session import get_spark
    from eodatadown_spark.spatial import cluster_by_zorder

    spark = get_spark("eodd_cli")
    df = spark.read.parquet(args.infile)
    xr = (args.x_min, args.x_max)
    yr = (args.y_min, args.y_max)
    out = cluster_by_zorder(
        df, args.x, args.y, n_partitions=args.partitions,
        bits=args.bits, x_range=xr, y_range=yr,
    )
    out.write.mode("overwrite").parquet(args.out)
    print(json.dumps({"out": args.out, "partitions": args.partitions}))


def cmd_eventstats(args) -> None:
    """Event-log analytics bundle: ordered funnel, weekly cohort retention,
    and daily per-type anomaly z-scores over an events parquet — one JSON
    report per sub-analysis."""
    from eodatadown_spark.operators.temporal import (
        cohort_retention,
        daily_anomaly_scores,
        funnel_stages,
    )
    from eodatadown_spark.session import get_spark

    spark = get_spark("eodd_cli")
    ev = spark.read.parquet(args.infile)
    report = {}
    if args.funnel:
        stages = args.funnel.split(",")
        report["funnel"] = [
            r.asDict() for r in funnel_stages(ev, stages).collect()
        ]
    coh = cohort_retention(ev)
    anom = daily_anomaly_scores(ev)
    if args.out:
        # write first, count the written parquet — counting the lazy frame
        # and then writing would run each analysis twice
        coh.write.mode("overwrite").parquet(args.out + "/cohorts")
        anom.write.mode("overwrite").parquet(args.out + "/anomalies")
        coh = spark.read.parquet(args.out + "/cohorts")
        anom = spark.read.parquet(args.out + "/anomalies")
        report["out"] = args.out
    report["cohorts"] = coh.count()
    report["anomalies"] = (
        anom.where(F.abs(F.col("z")) >= args.z_threshold).count()
    )
    print(json.dumps(report))


def cmd_search(args) -> None:
    """BM25 retrieval over a documents parquet; with --embeddings, the
    shortlist is MMR-diversified (λ·rel − (1−λ)·max-sim-to-selected) so
    near-duplicate hits don't crowd the result list."""
    from pyspark.sql import Window

    from eodatadown_spark.operators.corpus import bm25_scores
    from eodatadown_spark.session import get_spark

    spark = get_spark("eodd_cli")
    docs = spark.read.parquet(args.infile)
    terms = [t.strip() for t in args.terms.split(",") if t.strip()]
    scored = bm25_scores(docs, terms)
    top = scored.orderBy(
        F.col("score").desc(), F.col("doc_id").asc()
    ).limit(args.k).localCheckpoint()
    report = {
        "terms": terms,
        "hits": [
            {"doc_id": r["doc_id"], "score": r["score"]}
            for r in top.collect()
        ],
    }
    if args.embeddings:
        from eodatadown_spark.operators.similarity import mmr_rerank

        emb = spark.read.parquet(args.embeddings)
        # BM25 scores become the relevance term, max-normalized so λ
        # weighs comparable [0,1] quantities
        # dataframe-qualified doc_id: with --vec-id-col doc_id both join
        # sides carry the column and a bare F.col would be ambiguous
        cand = top.join(emb, top["doc_id"] == emb[args.vec_id_col]).select(
            F.lit(0).alias("query_id"),
            top["doc_id"].alias("neighbor_id"),
            (F.col("score") / F.max("score").over(Window.partitionBy()))
            .alias("rel"),
            F.expr(f"cast({args.vec_col} as array<double>)").alias("__cv"),
        )
        sel = mmr_rerank(
            None, None, k=args.diverse_k, lam=args.lam, candidates=cand
        )
        report["diversified"] = [
            r["neighbor_id"]
            for r in sel.orderBy("rank").collect()
        ]
    print(json.dumps(report))


def cmd_linkage(args) -> None:
    """Blocked fuzzy record linkage: candidate pairs within shared blocking
    keys at Levenshtein ≤ threshold, written as parquet + a JSON summary."""
    from eodatadown_spark.operators.dedup import blocked_edit_pairs
    from eodatadown_spark.session import get_spark

    spark = get_spark("eodd_cli")
    df = spark.read.parquet(args.infile)
    pairs = blocked_edit_pairs(
        df, args.id_col, args.name_col,
        [b for b in args.block_cols.split(",") if b],
        max_edit=args.max_edit,
    )
    pairs.write.mode("overwrite").parquet(args.out)
    written = spark.read.parquet(args.out)
    by_dist = {
        int(r["edit_dist"]): r["n"]
        for r in written.groupBy("edit_dist").agg(
            F.count(F.lit(1)).alias("n")
        ).collect()
    }
    print(json.dumps({
        "out": args.out,
        "pairs": sum(by_dist.values()),
        "by_edit_dist": by_dist,
    }))


def cmd_dataprep(args) -> None:
    """Training-data pipeline, end to end: quality filter → exact dedup →
    near-dup keep-canonical → deterministic split; writes the cleaned corpus
    parquet and prints one JSON stats line.  Every stage is the engine's
    scale-shaped operator — no collects, no per-row Python."""
    from eodatadown_spark.operators import dedup as D
    from eodatadown_spark.operators import text as X
    from eodatadown_spark.operators.corpus import assign_split
    from eodatadown_spark.session import get_spark

    spark = get_spark("eodd_cli")
    docs = spark.read.parquet(args.infile)
    n_in = docs.count()
    # optional normalization FIRST: invisible byte differences must not
    # split identical content into distinct fingerprints downstream
    if args.normalize:
        from eodatadown_spark.operators.text import normalize_text

        docs = docs.withColumn("text", normalize_text("text"))
    # each stage is checkpointed so the per-stage counts and the final write
    # never re-run the upstream scan/filter/shuffle chain
    kept = docs.where(
        X.quality_score(F.col("text")) >= args.min_quality
    ).localCheckpoint()
    n_quality = kept.count()
    # optional LEARNED gate after the rule gate (the classify CLI's
    # --train artifact): rule filters are cheap recall, the classifier is
    # the trained precision pass — same order production pipelines use
    n_classifier = None
    if args.classify_weights is not None:
        from eodatadown_spark.operators.classify import quality_filter

        with open(args.classify_weights, encoding="utf-8") as fh:
            cw = json.load(fh)
        kept = quality_filter(
            kept, cw["weights"], threshold=args.classify_threshold,
            id_col=cw.get("id_col", "doc_id"),
            text_col=cw.get("text_col", "text"),
            binary=cw.get("binary", False),
        ).localCheckpoint()
        n_classifier = kept.count()
    kept = D.exact_dedup(kept, ["text"]).localCheckpoint()
    n_exact = kept.count()
    # LSH pair generation (bounded candidates), not the exact inverted-index
    # path — the corpus-scale configuration.  --neardup simhash swaps in the
    # SimHash bands; --gram-hash xxhash64 uses the non-cryptographic gram
    # hash (faster codegen path) instead of md5
    if args.neardup == "simhash":
        pairs = D.simhash_neardup_pairs(
            kept, gram_hash=args.gram_hash
        ).select("id_a", "id_b")
    elif args.neardup == "prefix":
        # EXACT Jaccard pairs at the threshold (prefix filtering, zero
        # recall loss) — for corpora where approximate LSH recall is not
        # acceptable and the candidate volume stays bounded
        pairs = D.jaccard_prefix_pairs(
            kept, threshold=args.jaccard
        ).select("id_a", "id_b")
    else:
        pairs = D.minhash_neardup_pairs(
            kept, jaccard_threshold=args.jaccard
        ).select("id_a", "id_b")
    clusters = D.neardup_clusters(kept, pairs=pairs)
    if args.clustered_split:
        # near-dup variants are KEPT but pinned to one split (leakage-proof
        # policy: duplicates may train, none may straddle into eval)
        clusters = clusters.localCheckpoint()
        n_neardup = kept.count()
    else:
        canon = clusters.where(F.col("is_canonical"))
        kept = kept.join(canon.select("doc_id"), "doc_id", "left_semi").localCheckpoint()
        n_neardup = kept.count()
    stats = {
        "input": n_in,
        "after_quality": n_quality,
        "after_exact_dedup": n_exact,
        "after_neardup": n_neardup,
    }
    if n_classifier is not None:
        stats["after_classifier"] = n_classifier
    # optional benchmark decontamination: drop docs overlapping the eval
    # set by >= 1 shared k-gram (GPT-3-style rule) AND docs containing a
    # short needle verbatim when the benchmark has a 'needle' column
    if args.decontaminate is not None:
        bench = spark.read.parquet(args.decontaminate)
        kept = D.decontaminate(kept, bench, k=args.contam_k)
        if "needle" in bench.columns:
            # verbatim-modulo-case, matching q77's reference semantics
            hits = D.substring_contamination(
                kept.select("doc_id", F.lower("text").alias("text")),
                bench.select(F.lower("needle").alias("needle")).withColumn(
                    "needle_id", F.monotonically_increasing_id()),
            ).select("doc_id").distinct()
            kept = kept.join(hits, "doc_id", "left_anti")
        kept = kept.localCheckpoint()
        stats["after_decontamination"] = kept.count()

    # optional per-language temperature rebalancing before the split
    if args.temperature_alpha is not None:
        if "lang" not in kept.columns:
            raise SystemExit(
                "--temperature-alpha needs a 'lang' column in the input "
                f"(columns: {kept.columns})"
            )
        from eodatadown_spark.operators.corpus import temperature_resample

        kept = temperature_resample(
            kept, alpha=args.temperature_alpha
        ).localCheckpoint()
        stats["after_temperature"] = kept.count()
    # optional token-budget source mixing (training-mix recipe step)
    if args.mix_budgets is not None:
        from eodatadown_spark.operators.corpus import mix_sources

        budgets = json.loads(args.mix_budgets)
        if "source" not in kept.columns:
            raise SystemExit(
                f"--mix-budgets needs a 'source' column (columns: {kept.columns})"
            )
        size_col = "n_chars" if "n_chars" in kept.columns else None
        if size_col is None:
            kept = kept.withColumn("n_chars", F.length("text"))
        kept = mix_sources(kept, budgets).localCheckpoint()
        stats["after_mix"] = kept.count()
    if args.clustered_split:
        from eodatadown_spark.operators.corpus import assign_split_clustered

        out = assign_split_clustered(kept, clusters)
    else:
        out = assign_split(kept)
    # optional context-window chunking: the written corpus becomes one row
    # per chunk (split assignment made per-DOC first, so chunks of one doc
    # never straddle train/val/test)
    if args.chunk_window is not None:
        from eodatadown_spark.operators.corpus import chunk_documents

        chunks = chunk_documents(
            out,
            window=args.chunk_window,
            stride=args.chunk_stride or args.chunk_window,
        )
        # checkpoint like every other stage: the count and the write must
        # not re-run the explode + join
        out = chunks.join(out.drop("text"), "doc_id").localCheckpoint()
        stats["n_chunks"] = out.count()
    out.write.mode("overwrite").parquet(args.out)
    stats["out"] = args.out
    print(json.dumps(stats))


def main(argv=None) -> int:
    p = argparse.ArgumentParser(prog="eodd_cli")
    sub = p.add_subparsers(dest="cmd", required=True)

    def add(name, fn, **kwargs):
        sp = sub.add_parser(name)
        if name not in ("passencode", "dataprep", "bpetrain", "cdcdiff",
                        "sample", "zorder", "eventstats"):
            sp.add_argument("--catalog", required=True)
            # very-large-catalog knob: p_year/p_month two-level layout
            sp.add_argument("--partition-monthly", action="store_true",
                            dest="partition_monthly")
        for arg, opts in kwargs.items():
            sp.add_argument(arg, **opts)
        sp.set_defaults(fn=fn)

    add("init", cmd_init, **{"--sensors": {"default": None, "help": "comma list; all if omitted"}})
    add("chknewscns", cmd_chknewscns, **{"--index": {"required": True}})
    add("process", cmd_process)
    add("summary", cmd_summary, **{
        "--approx": {"action": "store_true",
                     "help": "percentile_approx quartiles (100x-scale path)"},
    })
    add("report", cmd_report, **{"--out": {"default": "date_report.html"}})
    add("export", cmd_export, **{"--out": {"required": True}})
    sp = sub.add_parser("dedupindex")
    sp.add_argument("--index-dir", required=True, dest="index_dir")
    sp.add_argument("--build", default=None, help="corpus parquet to index")
    sp.add_argument("--probe", default=None, help="new-batch parquet")
    sp.add_argument("--apply", action="store_true",
                    help="fold the probed batch into the stored state")
    sp.add_argument("--jaccard", type=float, default=0.7)
    sp.add_argument("--k", type=int, default=3)
    sp.add_argument("--num-perm", type=int, default=32, dest="num_perm")
    sp.add_argument("--bands", type=int, default=8)
    sp.add_argument("--family", choices=("minhash", "prefix", "simhash"),
                    default="minhash",
                    help="minhash banding (approx jaccard), prefix index "
                         "(exact jaccard), or simhash bands (hamming)")
    sp.add_argument("--max-hamming", type=int, default=3, dest="max_hamming")
    sp.add_argument("--band-bits", type=int, default=15, dest="band_bits")
    sp.set_defaults(fn=cmd_dedupindex, _parser=sp)
    sp = sub.add_parser("spanindex")
    sp.add_argument("--index-dir", required=True, dest="index_dir")
    sp.add_argument("--build", default=None, help="corpus parquet to index")
    sp.add_argument("--probe", default=None, help="new-batch parquet")
    sp.add_argument("--apply", action="store_true",
                    help="fold the probed batch's window counts in")
    sp.add_argument("--window", type=int, default=8,
                    help="window size in units (index identity)")
    sp.add_argument("--unit", choices=("token", "char"), default="token",
                    help="window granularity (index identity; char = Lee "
                         "et al.'s byte-level form, e.g. --window 50)")
    sp.set_defaults(fn=cmd_spanindex, _parser=sp)
    sp = sub.add_parser("annindex")
    sp.add_argument("--index-dir", required=True, dest="index_dir")
    sp.add_argument("--build", default=None, help="corpus parquet to index")
    sp.add_argument("--add", default=None, help="new-batch parquet to fold in")
    sp.add_argument("--query", default=None, help="query-vectors parquet")
    sp.add_argument("--kind", choices=("ivf", "sq8"), default="ivf",
                    help="index family for --build: IVF inverted lists or "
                         "SQ8 codes (--add/--query use the built family)")
    sp.add_argument("--centroids", type=int, default=8)
    sp.add_argument("--k", type=int, default=5)
    sp.add_argument("--n-probe", type=int, default=2, dest="n_probe")
    sp.add_argument("--shortlist", type=int, default=50,
                    help="sq8: dequantized-scan shortlist depth per query")
    sp.add_argument("--gc-grace-s", type=int, default=1800,
                    dest="gc_grace_s",
                    help="skip superseded generations modified within this "
                         "many seconds (in-flight-build protection); 0 to "
                         "disable when builds are known quiesced")
    sp.add_argument("--gc", action="store_true",
                    help="remove sq8 generations superseded by ann_meta.json")
    sp.add_argument("--out", default=None, help="result parquet path")
    sp.set_defaults(fn=cmd_annindex, _parser=sp)

    add("jaxafilelist", cmd_jaxafilelist, **{
        "--out": {"required": True},
        "--import-json": {"default": None, "dest": "import_json",
                          "help": "ingest a gzip-JSON year→files doc first"},
        "--years": {"default": None, "help": "comma list; ref avail_years if omitted"},
    })
    add("import", cmd_import, **{"--infile": {"required": True},
                                 "--replace-path": {"default": None}})
    add("gencmds", cmd_gencmds, **{"--template": {"default": "eoddrun --pid {pid}"},
                                   "--out": {"required": True},
                                   "--split": {"type": int, "default": 1}})
    add("roi", cmd_roi, **{"--bbox": {"required": True, "help": "W,S,E,N"}})
    add("passencode", cmd_passencode, **{"--password": {"required": True}})
    add("bpetrain", cmd_bpetrain, **{
        "--infile": {"required": True, "help": "documents parquet"},
        "--out": {"required": True, "help": "merges JSON path"},
        "--merges": {"type": int, "default": 50},
        "--counts-out": {"default": None, "dest": "counts_out",
                         "help": "also write per-doc subword counts parquet"},
    })
    sp = sub.add_parser("classify")
    sp.add_argument("--train", default=None, help="documents parquet to fit on")
    sp.add_argument("--score", default=None, help="documents parquet to score")
    sp.add_argument("--gate", default=None, help="documents parquet to filter")
    sp.add_argument("--eval", default=None, dest="eval_src",
                    help="documents parquet to evaluate the gate on")
    sp.add_argument("--weights", required=True, help="weights JSON artifact")
    sp.add_argument("--out", default=None, help="output parquet (score/gate)")
    sp.add_argument("--label-col", default=None, dest="label_col",
                    help="boolean label column; default: language_guess rule")
    sp.add_argument("--id-col", default="doc_id", dest="id_col")
    sp.add_argument("--text-col", default="text", dest="text_col")
    sp.add_argument("--features", type=int, default=64)
    sp.add_argument("--iters", type=int, default=8)
    sp.add_argument("--lr", type=float, default=12.0)
    sp.add_argument("--binary", action="store_true")
    sp.add_argument("--threshold", type=float, default=0.5)
    sp.set_defaults(fn=cmd_classify)
    add("exportvector", cmd_exportvector, **{"--out": {"required": True}})
    add("pluginreport", cmd_pluginreport)
    add("reset", cmd_reset, **{"--pids": {"default": None, "help": "comma list; all if omitted"}})
    add("buildobsdates", cmd_buildobsdates)
    add("procobsdata", cmd_procobsdata, **{
        "--sensor": {"default": "LandsatGOOG"},
        "--sizes": {"default": "250,500,1000"},
        "--outdir": {"default": "overview_imgs"}})
    add("runscn", cmd_runscn, **{"--pid": {"type": int, "required": True},
                                 "--sensor": {"default": "LandsatGOOG"}})
    add("genobsdatecmds", cmd_genobsdatecmds, **{
        "--template": {"default": "eoddcreatereport --sensor {sensor} "
                                  "--platform {platform} --date {date}"},
        "--out": {"required": True},
        "--sensor": {"default": "LandsatGOOG"},
        "--split": {"type": int, "default": 1}})
    add("dataprep", cmd_dataprep, **{
        "--infile": {"required": True, "help": "documents parquet (doc_id, text, ...)"},
        "--out": {"required": True},
        "--min-quality": {"type": float, "default": 0.5, "dest": "min_quality"},
        "--normalize": {"action": "store_true",
                        "help": "normalize_text pass before all stages"},
        "--classify-weights": {"default": None, "dest": "classify_weights",
                               "help": "learned-gate weights JSON "
                                       "(classify --train artifact)"},
        "--classify-threshold": {"type": float, "default": 0.5,
                                 "dest": "classify_threshold"},
        "--jaccard": {"type": float, "default": 0.7},
        "--neardup": {"choices": ["minhash", "simhash", "prefix"],
                      "default": "minhash"},
        "--gram-hash": {"choices": ["md5", "xxhash64"], "default": "md5",
                        "dest": "gram_hash",
                        "help": "simhash gram hash (xxhash64 = fast path)"},
        "--temperature-alpha": {"type": float, "default": None,
                                "dest": "temperature_alpha",
                                "help": "per-language temperature resampling"},
        "--decontaminate": {"default": None,
                            "help": "benchmark parquet (doc_id, text[, needle]); "
                                    "drops contaminated docs"},
        "--contam-k": {"type": int, "default": 13, "dest": "contam_k",
                       "help": "k-gram size for the collision rule"},
        "--chunk-window": {"type": int, "default": None, "dest": "chunk_window",
                           "help": "emit token-window chunks of this size"},
        "--chunk-stride": {"type": int, "default": None, "dest": "chunk_stride",
                           "help": "chunk stride (default = window)"},
        "--clustered-split": {"action": "store_true", "dest": "clustered_split",
                              "help": "keep near-dups but pin each cluster "
                                      "to one split (leakage-proof policy)"},
        "--mix-budgets": {"default": None, "dest": "mix_budgets",
                          "help": "JSON source->char-budget map for "
                                  "token-budget mixing"},
    })

    add("fsck", cmd_fsck, **{"--table": {"default": "landsat_scenes"}})
    add("versions", cmd_versions, **{"--table": {"default": "landsat_scenes"}})
    add("merge", cmd_merge, **{
        "--table": {"required": True},
        "--source": {"required": True, "help": "source parquet path"},
        "--on": {"required": True, "help": "comma-separated key columns"},
        "--mode": {"choices": ["upsert", "delete"], "default": "upsert"},
    })
    add("cdcdiff", cmd_cdcdiff, **{
        "--old": {"default": None}, "--new": {"default": None},
        "--keys": {"required": True, "help": "comma-separated key columns"},
        "--out": {"required": True},
        "--catalog": {"default": None},
        "--table": {"default": None},
        "--from-version": {"type": int, "default": None, "dest": "from_version"},
        "--to-version": {"type": int, "default": None, "dest": "to_version",
                         "help": "defaults to the current version"},
    })
    add("eventstats", cmd_eventstats, **{
        "--infile": {"required": True},
        "--funnel": {"default": None,
                     "help": "comma list of event_type stages, in order"},
        "--z-threshold": {"type": float, "default": 2.0, "dest": "z_threshold"},
        "--out": {"default": None, "help": "write cohorts/anomalies parquet"},
    })
    add("sample", cmd_sample, **{
        "--infile": {"required": True}, "--out": {"required": True},
        "--k": {"type": int, "required": True},
        "--weight-col": {"default": "n_chars", "dest": "weight_col"},
        "--id-col": {"default": "doc_id", "dest": "id_col"},
        "--seed": {"type": int, "default": 42},
    })
    add("zorder", cmd_zorder, **{
        "--infile": {"required": True}, "--out": {"required": True},
        "--x": {"required": True}, "--y": {"required": True},
        # four scalar floats, not "lo,hi" strings: argparse rejects a
        # space-separated value starting with '-' (looks like an option),
        # so comma-pair form would force the awkward --x-range=-180,180
        "--x-min": {"type": float, "default": -180.0, "dest": "x_min"},
        "--x-max": {"type": float, "default": 180.0, "dest": "x_max"},
        "--y-min": {"type": float, "default": -90.0, "dest": "y_min"},
        "--y-max": {"type": float, "default": 90.0, "dest": "y_max"},
        "--bits": {"type": int, "default": 16},
        "--partitions": {"type": int, "default": 8},
    })

    sp = sub.add_parser("linkage")
    sp.add_argument("--infile", required=True, help="records parquet")
    sp.add_argument("--id-col", required=True, dest="id_col")
    sp.add_argument("--name-col", required=True, dest="name_col")
    sp.add_argument("--block-cols", required=True, dest="block_cols",
                    help="comma list of blocking key columns")
    sp.add_argument("--max-edit", type=int, default=2, dest="max_edit")
    sp.add_argument("--out", required=True)
    sp.set_defaults(fn=cmd_linkage)

    sp = sub.add_parser("search")
    sp.add_argument("--infile", required=True, help="documents parquet")
    sp.add_argument("--terms", required=True, help="comma list of query terms")
    sp.add_argument("--k", type=int, default=10)
    sp.add_argument("--embeddings", default=None,
                    help="embeddings parquet enabling MMR diversification")
    sp.add_argument("--vec-id-col", default="vec_id", dest="vec_id_col")
    sp.add_argument("--vec-col", default="embedding", dest="vec_col")
    sp.add_argument("--diverse-k", type=int, default=5, dest="diverse_k")
    sp.add_argument("--lam", type=float, default=0.7)
    sp.set_defaults(fn=cmd_search)

    sp = sub.add_parser("corpusstats")
    sp.add_argument("--infile", required=True)
    sp.add_argument("--topk", type=int, default=5)
    sp.add_argument("--len-col", default="n_chars", dest="len_col")
    sp.add_argument("--heavy-hitters", type=int, default=0,
                    dest="heavy_hitters",
                    help="also print top-N exact vs Count-Min estimates")
    sp.add_argument("--cms-width", type=int, default=512, dest="cms_width")
    sp.set_defaults(fn=cmd_corpusstats)

    args = p.parse_args(argv)
    args.fn(args)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
