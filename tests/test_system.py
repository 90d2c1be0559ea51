"""System-main layer: signed config, multi-sensor orchestration, obs-date
overview updates — the reference's §3 lifecycle entry points."""

from __future__ import annotations

import datetime as dt
import json
import os

import pytest
from pyspark.sql import functions as F

from eodatadown_spark.config import SystemMain, check_config_signature, sign_config
from eodatadown_spark.run import find_new_downloads, process_scenes_all_steps


@pytest.fixture()
def system(spark, tmp_path):
    cfg = {
        "catalog_path": str(tmp_path / "cat"),
        "sensors": ["LandsatGOOG"],
        "roi": {"west_lon": -5.0, "east_lon": 5.0, "south_lat": 45.0, "north_lat": 55.0},
    }
    cfg_file = str(tmp_path / "config.json")
    with open(cfg_file, "w", encoding="utf-8") as fh:
        json.dump(cfg, fh)
    sign_config(cfg_file)
    return SystemMain(spark).parse_config(cfg_file)


def _landsat_feed(spark):
    def row(sid, acq, lon_w):
        return {
            "scene_id": sid,
            "product_id": f"LC08_L1TP_001001_{acq.replace('-', '')}_20200101_01_T1",
            "spacecraft_id": "LANDSAT_8", "sensor_id": "OLI_TIRS",
            "date_acquired": dt.date.fromisoformat(acq),
            "sensing_time": dt.datetime.fromisoformat(acq + "T10:00:00"),
            "collection_number": "01", "collection_category": "T1",
            "data_type": "L1TP", "wrs_path": 1, "wrs_row": 1, "cloud_cover": 10.0,
            "north_lat": 52.0, "south_lat": 50.0,
            "east_lon": lon_w + 2.0, "west_lon": lon_w,
            "total_size": 1000, "remote_url": f"gs://b/{sid}",
        }

    return spark.createDataFrame(
        [row("A", "2019-01-05", 0.0), row("B", "2019-02-10", -1.0),
         row("OUT", "2019-03-15", 20.0)]  # outside configured ROI
    )


def test_config_signature_tamper(spark, tmp_path):
    cfg_file = str(tmp_path / "c.json")
    with open(cfg_file, "w", encoding="utf-8") as fh:
        json.dump({"catalog_path": str(tmp_path)}, fh)
    with pytest.raises(ValueError, match="signature"):
        SystemMain(spark).parse_config(cfg_file)
    sign_config(cfg_file)
    assert check_config_signature(cfg_file)
    SystemMain(spark).parse_config(cfg_file)  # now fine
    with open(cfg_file, "a", encoding="utf-8") as fh:
        fh.write(" ")
    assert not check_config_signature(cfg_file)  # tamper detected


def test_find_new_downloads_and_process(spark, system):
    added = find_new_downloads(system, {"LandsatGOOG": _landsat_feed(spark)})
    assert added == {"LandsatGOOG": 3}
    sensor = system.get_sensor_objs()[0]
    # ROI trim removed the out-of-bbox scene
    assert sensor.scenes().count() == 2

    results = process_scenes_all_steps(system)
    assert results["LandsatGOOG"] == {"download": 2, "con2ard": 2, "datacube": 2}
    summary = sensor.get_sensor_summary_info()
    assert summary["n_dcloaded"] == 2

    # second run: everything done → zero work per stage
    again = process_scenes_all_steps(system)
    assert again["LandsatGOOG"] == {"download": 0, "con2ard": 0, "datacube": 0}

    # usage log recorded ingest + two processing passes
    log = system.catalog.read("usage_log")
    assert log.count() == 3
    assert log.where(F.col("found_new_scns") == True).count() == 1  # noqa: E712


def test_update_obs_date_overviews(spark, system):
    find_new_downloads(system, {"LandsatGOOG": _landsat_feed(spark)})
    sensor = system.get_sensor_objs()[0]
    obs, _ = sensor.build_obs_date_records("LandsatGOOG")
    first = obs.orderBy("obs_date").first()
    updates = spark.createDataFrame(
        [(first["sensor_id"], first["platform_id"], first["obs_date"],
          json.dumps({"250": "/ov/250.png"}))],
        "sensor_id string, platform_id string, obs_date date, overviews string",
    )
    from eodatadown_spark.reports import update_obs_date_overviews

    merged = update_obs_date_overviews(obs, updates)
    done = merged.where(F.col("obs_date") == first["obs_date"]).first()
    assert done["overview_created"] is True and done["need_update"] is False
    assert json.loads(done["overviews"]) == {"250": "/ov/250.png"}
    other = merged.where(F.col("obs_date") != first["obs_date"]).first()
    assert other["need_update"] is True and other["overviews"] is None


def test_process_obsdata_lifecycle(spark, system):
    """The composed per-obsdate orchestration (ref eodatadownsensor.py:642
    process_obsdata / :605 create_obsdate_visual): worklist → injectable
    visual task → OCC overview merge → re-query shows the obsdate done."""
    find_new_downloads(system, {"LandsatGOOG": _landsat_feed(spark)})
    sensor = system.get_sensor_objs()[0]

    calls = []

    def visual(pids, out_imgs):
        calls.append((tuple(sorted(pids)), dict(out_imgs)))
        return True

    n = sensor.create_obsdate_visual(visual_fn=visual, img_sizes=(250, 500))
    n_days = sensor.obs_dates().count()
    assert n == n_days and len(calls) == n_days and n_days > 0
    # every obsdate marked processed, overviews JSON carries both sizes
    done = sensor.obs_dates().collect()
    for r in done:
        assert r["overview_created"] is True and r["need_update"] is False
        ov = json.loads(r["overviews"])
        assert set(ov) == {"250", "500"}
        base = f"{r['obs_date'].strftime('%Y%m%d')}_LandsatGOOG_{r['platform_id']}"
        assert ov["250"].endswith(f"{base}_250px.tif")
    # worklist drained; a second pass does zero work
    assert sensor.get_lst_obsdates_need_processing().count() == 0
    assert sensor.create_obsdate_visual(visual_fn=visual) == 0
    assert len(calls) == n_days

    # unknown obsdate → reference's one_or_none no-op path
    import datetime as dt

    assert sensor.process_obsdata("LANDSAT_8", dt.date(1999, 1, 1)) is False

    # failure path: a failing kernel marks THAT obsdate invalid, not done
    first = done[0]
    sensor.catalog.replace_derived(
        "obs_dates",
        lambda cur: cur.withColumn(
            "overview_created",
            F.when(
                F.col("obs_date") == F.lit(first["obs_date"]), F.lit(False)
            ).otherwise(F.col("overview_created")),
        ),
        partition=False,
    )
    ok = sensor.process_obsdata(
        first["platform_id"], first["obs_date"], visual_fn=lambda p, o: False
    )
    assert ok is False
    row = (
        sensor.obs_dates()
        .where(F.col("obs_date") == F.lit(first["obs_date"]))
        .first()
    )
    assert row["invalid"] is True and row["overview_created"] is False


def test_cli_dataprep_pipeline(spark, tmp_path, capsys):
    """eodd_cli dataprep: quality filter → exact dedup → near-dup canonical →
    split, end to end through the CLI entry point."""
    import eodd_cli

    base = "the quick brown fox jumps over the lazy dog " * 5
    rows = [
        (1, base),                          # canonical
        (2, base),                          # exact dup of 1
        (3, base + "edited"),               # near-dup of 1 (J≈0.92 — inside
                                            # the LSH bands' reliable zone)
        (4, "another perfectly fine unique document about the weather today and it is long enough"),
        (5, "!!! ??? ### $$$"),             # fails quality (punct, no stopwords)
    ]
    src = str(tmp_path / "docs_src")
    spark.createDataFrame(rows, "doc_id long, text string").write.parquet(src)
    out = str(tmp_path / "docs_clean")

    eodd_cli.main(["dataprep", "--infile", src, "--out", out,
                   "--min-quality", "0.7", "--jaccard", "0.5"])
    stats = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert stats["input"] == 5
    assert stats["after_quality"] == 4       # doc 5 dropped
    assert stats["after_exact_dedup"] == 3   # doc 2 dropped
    assert stats["after_neardup"] == 2       # doc 3 collapsed into doc 1

    cleaned = spark.read.parquet(out)
    assert sorted(r["doc_id"] for r in cleaned.collect()) == [1, 4]
    assert set(cleaned.columns) >= {"doc_id", "text", "split"}


def test_cli_monthly_bucketize_cycle(spark, tmp_path, capsys):
    """CLI --partition-monthly: chknewscns writes the monthly layout on
    disk."""
    import datetime as dt
    import os

    import eodd_cli

    idx = str(tmp_path / "index_pq")
    rows = [
        ("A", "2019-01-05"), ("B", "2019-01-20"),
        ("C", "2019-02-10"), ("D", "2019-02-25"),
    ]
    spark.createDataFrame(
        [
            {
                "scene_id": sid,
                "product_id": f"LC08_L1TP_001001_{acq.replace('-', '')}_20190601_01_T1",
                "spacecraft_id": "LANDSAT_8", "sensor_id": "OLI_TIRS",
                "date_acquired": acq, "sensing_time": acq + "T10:11:12.000000Z",
                "collection_number": "01", "collection_category": "T1",
                "data_type": "L1TP", "wrs_path": "1", "wrs_row": "1",
                "cloud_cover": "10.0", "north_lat": "52.0", "south_lat": "50.0",
                "east_lon": "2.0", "west_lon": "0.0", "total_size": "1000",
                "base_url": f"gs://b/{sid}",
            }
            for sid, acq in rows
        ]
    ).write.parquet(idx)

    cat_dir = str(tmp_path / "cat")
    eodd_cli.main(["init", "--catalog", cat_dir, "--partition-monthly",
                   "--sensors", "LandsatGOOG"])
    eodd_cli.main(["chknewscns", "--catalog", cat_dir, "--partition-monthly",
                   "--index", idx])
    out = capsys.readouterr().out
    assert "added 4 scene(s)" in out

    # monthly physical layout written by the CLI path
    from eodatadown_spark.catalog import ParquetCatalog

    cat = ParquetCatalog(spark, cat_dir, partition_monthly=True)
    root = cat.data_path("landsat_scenes")
    leaves = {
        os.path.relpath(d, root).replace(os.sep, "/")
        for d, _s, files in os.walk(root)
        if any(f.endswith(".parquet") for f in files)
    }
    assert leaves == {"p_year=2019/p_month=1", "p_year=2019/p_month=2"}


def test_cli_summary_approx_and_simhash_dataprep(spark, tmp_path, capsys):
    """--approx quartiles through summary; --neardup simhash --gram-hash
    xxhash64 through dataprep (the fast-codegen variants, CLI-reachable)."""
    import eodd_cli

    base = "the quick brown fox jumps over the lazy dog " * 5
    rows = [
        (1, base),
        (2, base),                      # exact dup
        (3, base + "dog"),              # near-dup (hamming 2 at 60 bits)
        (4, "another perfectly fine unique document about the weather today and it is long enough"),
    ]
    src = str(tmp_path / "docs_src2")
    spark.createDataFrame(rows, "doc_id long, text string").write.parquet(src)
    out = str(tmp_path / "docs_clean2")
    eodd_cli.main(["dataprep", "--infile", src, "--out", out,
                   "--min-quality", "0.7", "--neardup", "simhash",
                   "--gram-hash", "xxhash64"])
    stats = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert stats["after_exact_dedup"] == 3
    assert stats["after_neardup"] == 2      # simhash collapses 3 into 1
    assert sorted(r["doc_id"] for r in spark.read.parquet(out).collect()) == [1, 4]


def test_cli_bpetrain(spark, tmp_path, capsys):
    import eodd_cli

    src = str(tmp_path / "bpe_src")
    spark.createDataFrame(
        [(1, "low low lower newest newest newest widest")],
        "doc_id long, text string",
    ).write.parquet(src)
    out = str(tmp_path / "merges.json")
    counts_out = str(tmp_path / "counts")
    eodd_cli.main(["bpetrain", "--infile", src, "--out", out,
                   "--merges", "6", "--counts-out", counts_out])
    stats = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert stats["n_merges"] == 6
    merges = json.loads(open(out).read())
    assert len(merges) == 6 and all(len(m) == 2 for m in merges)
    row = spark.read.parquet(counts_out).first()
    assert row["n_tokens_bpe"] == stats["total_bpe_tokens"] > 0


def test_cli_dataprep_decontaminate(spark, tmp_path, capsys):
    """dataprep --decontaminate: docs overlapping the benchmark by a 5-gram
    drop; docs containing a short needle verbatim drop too."""
    import eodd_cli

    filler = "and it is a long enough document to pass the quality bar today "
    leak = "the capital of atlantis is flooded entirely"
    rows = [
        (1, f"clean document about weather {filler}"),
        (2, f"contains {leak} inside {filler}"),          # 5-gram overlap
        (3, f"secret Canary XQ17 appears here {filler}"),  # needle hit (case-variant)
        (4, f"another clean one about sports {filler}"),
    ]
    src = str(tmp_path / "docs_src3")
    spark.createDataFrame(rows, "doc_id long, text string").write.parquet(src)
    bench = str(tmp_path / "bench")
    spark.createDataFrame(
        [(100, leak, "canary xq17")], "doc_id long, text string, needle string"
    ).write.parquet(bench)
    out = str(tmp_path / "docs_clean3")
    eodd_cli.main(["dataprep", "--infile", src, "--out", out,
                   "--min-quality", "0.0", "--decontaminate", bench,
                   "--contam-k", "5"])
    stats = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert stats["after_decontamination"] == 2
    assert sorted(r["doc_id"] for r in spark.read.parquet(out).collect()) == [1, 4]


def test_cli_dataprep_temperature_and_chunking(spark, tmp_path, capsys):
    """dataprep with --temperature-alpha and --chunk-window: rebalanced per
    language, then one row per chunk with the doc's split carried over."""
    import eodd_cli

    rows = []
    for i in range(40):
        lang = "en" if i < 30 else "de"
        rows.append((i, lang, f"the document number {i} talks about the weather and it "
                              f"is long enough to pass the quality bar today d{i} " * 2))
    src = str(tmp_path / "docs_src3")
    spark.createDataFrame(rows, "doc_id long, lang string, text string").write.parquet(src)
    out = str(tmp_path / "docs_chunks")
    eodd_cli.main(["dataprep", "--infile", src, "--out", out,
                   "--min-quality", "0.5", "--temperature-alpha", "0.5",
                   "--chunk-window", "16", "--chunk-stride", "12"])
    stats = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert stats["after_temperature"] <= stats["after_neardup"]
    chunks = spark.read.parquet(out)
    assert stats["n_chunks"] == chunks.count() > stats["after_temperature"]
    assert {"doc_id", "chunk_id", "chunk_text", "n_chunk_tokens",
            "lang", "split"} <= set(chunks.columns)
    # every chunk of a doc carries ONE split (assigned per doc, not per chunk)
    assert (chunks.groupBy("doc_id")
            .agg(F.countDistinct("split").alias("n")).where("n > 1").count()) == 0
    # chunks respect the window bound
    assert chunks.agg(F.max("n_chunk_tokens")).first()[0] <= 16


def test_cli_corpusstats(spark, capsys):
    """corpusstats emits the three audit sections as JSON lines over a real
    documents parquet."""
    import eodd_cli

    eodd_cli.main(["corpusstats", "--infile",
                   "/root/testdata/sf0.001/documents.parquet", "--topk", "2"])
    lines = [json.loads(x) for x in capsys.readouterr().out.strip().splitlines()]
    kl = {r["group"]: r["kl"] for r in lines[0]["kl_by_group"]}
    assert set(kl) == {"en", "de", "zh", "fr", "es"}
    assert all(v >= 0 for v in kl.values())        # KL is non-negative
    assert lines[1]["length_histogram"]            # non-empty buckets
    top = lines[2]["top_tokens"]
    assert {r["rank"] for r in top} == {1, 2}


def test_cli_runscn_and_genobsdatecmds(spark, tmp_path, capsys):
    """runscn drives one scene through every pending stage (eoddrun -p
    parity); genobsdatecmds writes templated per-obs-date commands."""
    import eodd_cli

    idx = str(tmp_path / "idx_pq")
    spark.createDataFrame(
        [
            {
                "scene_id": sid,
                "product_id": f"LC08_L1TP_001001_{acq.replace('-', '')}_20190601_01_T1",
                "spacecraft_id": "LANDSAT_8", "sensor_id": "OLI_TIRS",
                "date_acquired": acq, "sensing_time": acq + "T10:11:12.000000Z",
                "collection_number": "01", "collection_category": "T1",
                "data_type": "L1TP", "wrs_path": "1", "wrs_row": "1",
                "cloud_cover": "10.0", "north_lat": "52.0", "south_lat": "50.0",
                "east_lon": "2.0", "west_lon": "0.0", "total_size": "1000",
                "base_url": f"gs://b/{sid}",
            }
            for sid, acq in [("A", "2019-01-05"), ("B", "2019-02-10")]
        ]
    ).write.parquet(idx)
    cat_dir = str(tmp_path / "cat")
    eodd_cli.main(["init", "--catalog", cat_dir, "--sensors", "LandsatGOOG"])
    eodd_cli.main(["chknewscns", "--catalog", cat_dir, "--index", idx])
    capsys.readouterr()

    eodd_cli.main(["runscn", "--catalog", cat_dir, "--pid", "0"])
    stats = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert stats == {"pid": 0, "stages_run": ["download", "con2ard", "datacube"]}

    # scene 0 fully processed, scene 1 untouched
    from eodatadown_spark.catalog import ParquetCatalog

    cat = ParquetCatalog(spark, cat_dir)
    rows = {r["pid"]: r for r in cat.read_clean("landsat_scenes").collect()}
    assert rows[0]["downloaded"] and rows[0]["ardproduct"] and rows[0]["dcloaded"]
    assert not rows[1]["downloaded"]
    # second run: nothing pending for pid 0
    eodd_cli.main(["runscn", "--catalog", cat_dir, "--pid", "0"])
    assert json.loads(capsys.readouterr().out.strip().splitlines()[-1])[
        "stages_run"] == []

    out_file = str(tmp_path / "obs_cmds.txt")
    eodd_cli.main(["genobsdatecmds", "--catalog", cat_dir, "--out", out_file])
    lines = open(out_file).read().strip().splitlines()
    assert len(lines) == 2
    assert lines[0] == ("eoddcreatereport --sensor LandsatGOOG "
                        "--platform LANDSAT_8 --date 2019-01-05")

    # procobsdata: worklist → stubbed kernel → OCC overview marks
    eodd_cli.main(["procobsdata", "--catalog", cat_dir, "--sizes", "250"])
    assert capsys.readouterr().out.strip().splitlines()[-1] == (
        "processed 2 obsdate(s); 0 remaining"
    )
    obs = {r["obs_date"].isoformat(): r for r in cat.read_clean("obs_dates").collect()}
    assert all(r["overview_created"] for r in obs.values())
    assert json.loads(obs["2019-01-05"]["overviews"]).keys() == {"250"}
    # idempotent second pass
    eodd_cli.main(["procobsdata", "--catalog", cat_dir])
    assert capsys.readouterr().out.strip().splitlines()[-1] == (
        "processed 0 obsdate(s); 0 remaining"
    )


def _cli_catalog(spark, tmp_path, scenes):
    """A LandsatGOOG catalog built through the CLI from ``scenes``, a list
    of (scene_id, date_acquired, west_lon); every bbox is 2 degrees wide.
    Returns the catalog dir."""
    import eodd_cli

    idx = str(tmp_path / "idx_pq")
    spark.createDataFrame(
        [
            {
                "scene_id": sid,
                "product_id": f"LC08_L1TP_001001_{acq.replace('-', '')}_20190601_01_T1",
                "spacecraft_id": "LANDSAT_8", "sensor_id": "OLI_TIRS",
                "date_acquired": acq, "sensing_time": acq + "T10:11:12.000000Z",
                "collection_number": "01", "collection_category": "T1",
                "data_type": "L1TP", "wrs_path": "1", "wrs_row": "1",
                "cloud_cover": "10.0", "north_lat": "52.0", "south_lat": "50.0",
                "east_lon": str(w + 2.0), "west_lon": str(w), "total_size": "1000",
                "base_url": f"gs://b/{sid}",
            }
            for sid, acq, w in scenes
        ]
    ).write.parquet(idx)
    cat_dir = str(tmp_path / "cat")
    eodd_cli.main(["init", "--catalog", cat_dir, "--sensors", "LandsatGOOG"])
    eodd_cli.main(["chknewscns", "--catalog", cat_dir, "--index", idx])
    return cat_dir


def test_cli_process_downloads_every_valid_pending_scene(
    spark, tmp_path, capsys, monkeypatch
):
    """process runs the download stage through the sensor facade: every
    valid scene not yet downloaded ends up downloaded under <catalog>/dl/,
    invalid scenes are untouched, and the commit is a merge, so a rival
    commit landing during the build survives."""
    import eodd_cli
    from eodatadown_spark.catalog import ParquetCatalog

    cat_dir = _cli_catalog(spark, tmp_path, [
        ("A", "2019-01-05", 0.0), ("B", "2019-02-10", 0.0),
        ("C", "2020-03-15", 0.0), ("D", "2020-04-20", 0.0),
    ])
    cat = ParquetCatalog(spark, cat_dir)
    cat.merge_updates("landsat_scenes", spark.createDataFrame(
        [(3, True)], "pid long, invalid boolean"))
    before = {r["pid"]: r for r in cat.read_clean("landsat_scenes").collect()}
    assert not any(r["downloaded"] for r in before.values())
    rival = spark.createDataFrame([(1, 99.0)], "pid long, cloud_cover double")

    orig = ParquetCatalog._claim_version
    fired = {"done": False}

    def hooked(self, table, *args, **kw):
        if table == "landsat_scenes" and not fired["done"]:
            fired["done"] = True
            # another process commits inside the command's build window
            ParquetCatalog(spark, cat_dir).merge_updates("landsat_scenes", rival)
        return orig(self, table, *args, **kw)

    monkeypatch.setattr(ParquetCatalog, "_claim_version", hooked)
    capsys.readouterr()
    eodd_cli.main(["process", "--catalog", cat_dir])
    assert capsys.readouterr().out.strip().splitlines() == [
        "3 scenes need processing", "download stage complete (mock runner)",
    ]
    assert fired["done"]
    rows = {r["pid"]: r for r in cat.read_clean("landsat_scenes").collect()}
    for pid in (0, 1, 2):
        assert rows[pid]["downloaded"] is True
        assert rows[pid]["download_path"] == f"{cat_dir}/dl/{pid}"
    assert rows[3].asDict() == before[3].asDict()
    assert rows[1]["cloud_cover"] == 99.0


@pytest.mark.parametrize("command", ["reset", "roi"])
def test_cli_scene_rewrite_keeps_concurrent_commit(
    spark, tmp_path, capsys, monkeypatch, command
):
    """reset and roi derive the scene table from its stored rows; a commit
    that lands while they build survives (the rewrite re-derives on top
    of the winner instead of flipping a stale frame over it)."""
    import eodd_cli
    from eodatadown_spark.catalog import ParquetCatalog

    cat_dir = _cli_catalog(spark, tmp_path, [
        ("A", "2019-01-05", 0.0), ("B", "2019-02-10", 0.0),
        ("OUT", "2020-03-15", 20.0),
    ])
    eodd_cli.main(["process", "--catalog", cat_dir])
    cat = ParquetCatalog(spark, cat_dir)
    # pid 1 is kept by the ROI and not reset; the rival patches it
    rival = spark.createDataFrame([(1, 99.0)], "pid long, cloud_cover double")

    orig = ParquetCatalog._write_version
    fired = {"done": False}

    def hooked(self, df, table, partition=True, *args, **kw):
        if table == "landsat_scenes" and not fired["done"]:
            fired["done"] = True
            ParquetCatalog(spark, cat_dir).merge_updates("landsat_scenes", rival)
        return orig(self, df, table, partition, *args, **kw)

    monkeypatch.setattr(ParquetCatalog, "_write_version", hooked)
    if command == "reset":
        eodd_cli.main(["reset", "--catalog", cat_dir, "--pids", "0"])
    else:
        eodd_cli.main(["roi", "--catalog", cat_dir, "--bbox=-5,45,5,55"])
    assert fired["done"]
    rows = {r["pid"]: r for r in cat.read_clean("landsat_scenes").collect()}
    assert rows[1]["cloud_cover"] == 99.0
    assert rows[1]["downloaded"] is True
    if command == "reset":
        assert set(rows) == {0, 1, 2}
        assert rows[0]["downloaded"] is False and rows[0]["download_path"] == ""
        assert rows[0]["download_end_date"] is None
    else:
        assert set(rows) == {0, 1}
        assert rows[0]["downloaded"] is True

def test_cli_sample_cdcdiff_zorder(spark, tmp_path, capsys):
    import json

    import eodd_cli

    docs = spark.createDataFrame(
        [(i, f"text {i}", 10 + i) for i in range(60)],
        "doc_id bigint, text string, n_chars bigint",
    )
    src = str(tmp_path / "docs")
    docs.write.parquet(src)

    out = str(tmp_path / "sampled")
    eodd_cli.main(["sample", "--infile", src, "--out", out, "--k", "10"])
    assert json.loads(capsys.readouterr().out.strip().splitlines()[-1])["rows"] == 10
    assert spark.read.parquet(out).count() == 10

    new_src = str(tmp_path / "docs2")
    docs.where("doc_id >= 5").withColumn(
        "n_chars",
        F.when(F.col("doc_id") == 7, F.lit(999)).otherwise(F.col("n_chars")),
    ).write.parquet(new_src)
    diff_out = str(tmp_path / "diff")
    eodd_cli.main(["cdcdiff", "--old", src, "--new", new_src,
                   "--keys", "doc_id", "--out", diff_out])
    stats = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert stats["delete"] == 5 and stats["update"] == 1

    pts = spark.createDataFrame(
        [(i, float(i % 360 - 180), float(i % 180 - 90)) for i in range(100)],
        "i bigint, x double, y double",
    )
    pts_src = str(tmp_path / "pts")
    pts.write.parquet(pts_src)
    z_out = str(tmp_path / "zordered")
    eodd_cli.main(["zorder", "--infile", pts_src, "--out", z_out,
                   "--x", "x", "--y", "y", "--partitions", "2"])
    assert spark.read.parquet(z_out).count() == 100


def test_cli_merge_upsert_delete(spark, tmp_path, capsys):
    import json

    import eodd_cli
    from eodatadown_spark.catalog import ParquetCatalog

    cat_dir = str(tmp_path / "cat")
    cat = ParquetCatalog(spark, cat_dir)
    cat.write(
        spark.createDataFrame(
            [(1, "open", 10.0), (2, "open", 20.0)], "k bigint, st string, qty double"
        ),
        "tbl",
        partition=False,
    )
    src = str(tmp_path / "src")
    spark.createDataFrame(
        [(2, "shipped", 25.0), (3, "new", 30.0)], "k bigint, st string, qty double"
    ).write.parquet(src)
    eodd_cli.main(["merge", "--catalog", cat_dir, "--table", "tbl",
                   "--source", src, "--on", "k"])
    stats = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert stats["source_rows"] == 2
    rows = {r["k"]: r for r in cat.read_clean("tbl").collect()}
    assert len(rows) == 3
    assert rows[2]["st"] == "shipped" and rows[3]["qty"] == 30.0

    del_src = str(tmp_path / "delsrc")
    spark.createDataFrame([(1,)], "k bigint").write.parquet(del_src)
    eodd_cli.main(["merge", "--catalog", cat_dir, "--table", "tbl",
                   "--source", del_src, "--on", "k", "--mode", "delete"])
    assert set(r["k"] for r in cat.read_clean("tbl").collect()) == {2, 3}


def test_cli_dataprep_clustered_split_and_mix(spark, tmp_path, capsys):
    import json

    import eodd_cli

    base = "the quick brown fox jumps over the lazy dog again and again"
    rows = [(i, f"a perfectly fine unique document number {i} with plenty of words", "s0", 60)
            for i in range(30)]
    rows += [(100, base, "s1", len(base)), (101, base + " extra", "s1", len(base) + 6)]
    src = str(tmp_path / "docs")
    spark.createDataFrame(
        rows, "doc_id bigint, text string, source string, n_chars bigint"
    ).write.parquet(src)

    out = str(tmp_path / "prepped")
    eodd_cli.main([
        "dataprep", "--infile", src, "--out", out, "--min-quality", "0.0",
        "--clustered-split", "--mix-budgets", json.dumps({"s0": 600, "s1": 500}),
    ])
    stats = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    # near-dups kept (clustered-split policy), mix capped s0 at 10 docs
    assert stats["after_neardup"] == 32
    assert stats["after_mix"] <= 12
    got = spark.read.parquet(out)
    splits = {r["doc_id"]: r["split"] for r in got.collect()}
    if 100 in splits and 101 in splits:
        assert splits[100] == splits[101]  # same cluster -> same split


def test_cli_fsck_and_versions(spark, tmp_path, capsys):
    import json

    import eodd_cli
    from eodatadown_spark.catalog import ParquetCatalog

    cat_dir = str(tmp_path / "cat")
    cat = ParquetCatalog(spark, cat_dir)
    cat.write(spark.createDataFrame([(1, "a")], "pid bigint, v string"),
              "tbl", partition=False)
    cat.write(spark.createDataFrame([(2, "b")], "pid bigint, v string"),
              "tbl", partition=False)
    eodd_cli.main(["versions", "--catalog", cat_dir, "--table", "tbl"])
    v = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert v["current"] == 1 and v["readable"] == [0, 1]
    eodd_cli.main(["fsck", "--catalog", cat_dir, "--table", "tbl"])
    report = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert report.get("orphans") == [] or report.get("orphan_versions") == []


def test_cli_eventstats(spark, tmp_path, capsys):
    import json as _json

    import eodd_cli

    out = str(tmp_path / "ev")
    eodd_cli.main([
        "eventstats", "--infile", "/root/testdata/sf0.001/events.parquet",
        "--funnel", "signup,view,click,purchase", "--out", out,
    ])
    rep = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    stages = {d["stage_name"]: d["n_users"] for d in rep["funnel"]}
    # monotone non-increasing down the funnel
    vals = [stages[s] for s in ("signup", "view", "click", "purchase")]
    assert vals == sorted(vals, reverse=True) and vals[0] > 0
    assert rep["cohorts"] > 0
    assert spark.read.parquet(out + "/cohorts").count() == rep["cohorts"]
    assert spark.read.parquet(out + "/anomalies").count() > 0


def test_cli_search_and_diversify(spark, tmp_path, capsys):
    import json as _json

    import eodd_cli

    eodd_cli.main([
        "search", "--infile", "/root/testdata/sf0.001/documents.parquet",
        "--terms", "hash,join,stream", "--k", "8",
        "--embeddings", "/root/testdata/sf0.001/embeddings.parquet",
        "--diverse-k", "3",
    ])
    rep = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert len(rep["hits"]) == 8
    scores = [h["score"] for h in rep["hits"]]
    assert scores == sorted(scores, reverse=True) and scores[0] > 0
    ids = {h["doc_id"] for h in rep["hits"]}
    assert len(rep["diversified"]) == 3
    assert set(rep["diversified"]) <= ids  # diversified ⊆ BM25 shortlist


def test_cli_linkage(spark, tmp_path, capsys):
    import json as _json

    import eodd_cli

    out = str(tmp_path / "pairs")
    eodd_cli.main([
        "linkage", "--infile", "/root/testdata/sf0.001/customer.parquet",
        "--id-col", "c_custkey", "--name-col", "c_name",
        "--block-cols", "c_nationkey,c_mktsegment", "--max-edit", "2",
        "--out", out,
    ])
    rep = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep["pairs"] > 0
    assert set(map(int, rep["by_edit_dist"])) <= {0, 1, 2}
    written = spark.read.parquet(out)
    assert written.count() == rep["pairs"]
    assert {r["id_a"] for r in written.collect()}  # non-empty, real ids


def test_cli_dataprep_prefix_strategy(spark, tmp_path, capsys):
    """--neardup prefix: the exact prefix-filtered Jaccard path through the
    CLI pipeline collapses the same near-dup the LSH path finds."""
    import eodd_cli

    base = "the quick brown fox jumps over the lazy dog " * 5
    rows = [
        (1, base),
        (3, base + "edited"),
        (4, "another perfectly fine unique document about the weather today and it is long enough"),
    ]
    src = str(tmp_path / "docs_src_pf")
    spark.createDataFrame(rows, "doc_id long, text string").write.parquet(src)
    out = str(tmp_path / "docs_clean_pf")
    eodd_cli.main(["dataprep", "--infile", src, "--out", out,
                   "--min-quality", "0.7", "--jaccard", "0.5",
                   "--neardup", "prefix"])
    stats = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert stats["after_neardup"] == 2
    cleaned = spark.read.parquet(out)
    assert sorted(r["doc_id"] for r in cleaned.collect()) == [1, 4]


def test_cli_dedupindex_lifecycle(spark, tmp_path, capsys):
    """dedupindex CLI: --build stores index/fingerprints/clusters; --probe
    finds a batch's pairs against the STORED index; --apply folds the
    batch in so the final assignments equal a from-scratch rebuild over
    the whole corpus."""
    import eodd_cli
    from eodatadown_spark.operators import dedup as D

    base = "the quick brown fox jumps over the lazy dog " * 5
    corpus_rows = [
        (1, base),
        (2, base + "edited"),               # near-dup of 1
        (3, "a perfectly unique document about the weather today and "
            "tomorrow with plenty of words"),
    ]
    batch_rows = [
        (100, base),                        # dups into cluster {1,2}
        (101, "an entirely novel payload document with its own words "
              "unlike anything stored before now"),
    ]
    src = str(tmp_path / "corpus")
    bsrc = str(tmp_path / "batch")
    idx = str(tmp_path / "dedup_idx")
    spark.createDataFrame(corpus_rows, "doc_id long, text string").write.parquet(src)
    spark.createDataFrame(batch_rows, "doc_id long, text string").write.parquet(bsrc)

    eodd_cli.main(["dedupindex", "--index-dir", idx, "--build", src,
                   "--jaccard", "0.5"])
    built = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert built["docs"] == 3 and built["clusters"] == 2  # {1,2} and {3}

    eodd_cli.main(["dedupindex", "--index-dir", idx, "--probe", bsrc,
                   "--apply"])
    stats = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert stats["batch_docs"] == 2 and stats["new_pairs"] >= 2
    assert stats["applied"] and stats["clusters"] == 3  # {1,2,100},{3},{101}

    from eodatadown_spark.catalog import ParquetCatalog

    got = {
        r["doc_id"]: r["cluster_id"]
        for r in ParquetCatalog(spark, idx).read("clusters").collect()
    }
    all_docs = spark.createDataFrame(
        corpus_rows + batch_rows, "doc_id long, text string"
    )
    want = {
        r["doc_id"]: r["cluster_id"]
        for r in D.neardup_clusters(all_docs, threshold=0.5).collect()
    }
    assert got == want  # incremental apply == from-scratch rebuild


def test_cli_dedupindex_prefix_family_lifecycle(spark, tmp_path, capsys):
    """--family prefix: the EXACT-Jaccard prefix index behind the same
    build/probe/apply lifecycle — final assignments equal a from-scratch
    rebuild, and the frozen freq table is untouched by --apply (the
    order-consistency contract)."""
    import eodd_cli
    from eodatadown_spark.catalog import ParquetCatalog
    from eodatadown_spark.operators import dedup as D

    base = "the quick brown fox jumps over the lazy dog " * 5
    corpus_rows = [
        (1, base),
        (2, base + "edited"),
        (3, "a perfectly unique document about the weather today and "
            "tomorrow with plenty of words"),
    ]
    batch_rows = [
        (100, base),
        (101, "an entirely novel payload document with its own words "
              "unlike anything stored before now"),
    ]
    src = str(tmp_path / "corpus")
    bsrc = str(tmp_path / "batch")
    idx = str(tmp_path / "dedup_idx")
    spark.createDataFrame(corpus_rows, "doc_id long, text string").write.parquet(src)
    spark.createDataFrame(batch_rows, "doc_id long, text string").write.parquet(bsrc)

    eodd_cli.main(["dedupindex", "--index-dir", idx, "--build", src,
                   "--jaccard", "0.5", "--family", "prefix"])
    built = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert built["docs"] == 3 and built["clusters"] == 2
    assert built["family"] == "prefix"

    cat = ParquetCatalog(spark, idx)
    freq_before = sorted(
        (r["sh"], r["__df"]) for r in cat.read("prefix_freq").collect()
    )

    # probe only (no --family needed — the stored meta routes it)
    eodd_cli.main(["dedupindex", "--index-dir", idx, "--probe", bsrc])
    probe = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert probe["new_pairs"] >= 2 and "applied" not in probe

    eodd_cli.main(["dedupindex", "--index-dir", idx, "--probe", bsrc,
                   "--apply"])
    stats = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert stats["applied"] and stats["clusters"] == 3

    got = {
        r["doc_id"]: r["cluster_id"]
        for r in cat.read("clusters").collect()
    }
    all_docs = spark.createDataFrame(
        corpus_rows + batch_rows, "doc_id long, text string"
    )
    want = {
        r["doc_id"]: r["cluster_id"]
        for r in D.neardup_clusters(all_docs, threshold=0.5).collect()
    }
    assert got == want
    # frozen order: --apply never rewrites the frequency table
    freq_after = sorted(
        (r["sh"], r["__df"]) for r in cat.read("prefix_freq").collect()
    )
    assert freq_after == freq_before
    # batch prefix/fingerprint rows appended (next probe sees the batch)
    assert set(
        r["id"] for r in cat.read("prefix_index").select("id").distinct().collect()
    ) == {1, 2, 3, 100, 101}


def test_cli_dedupindex_simhash_family_lifecycle(spark, tmp_path, capsys):
    """--family simhash: the Hamming-banded index behind the same
    build/probe/apply lifecycle — single index table (no fingerprints),
    final assignments equal a from-scratch rebuild."""
    import eodd_cli
    from eodatadown_spark.catalog import ParquetCatalog
    from eodatadown_spark.operators import dedup as D

    base = "the quick brown fox jumps over the lazy dog " * 5
    corpus_rows = [
        (1, base),
        (2, base + " edited slightly"),
        (3, "a perfectly unique document about the weather today and "
            "tomorrow with plenty of words"),
    ]
    batch_rows = [
        (100, base),
        (101, "an entirely novel payload document with its own words "
              "unlike anything stored before now"),
    ]
    src = str(tmp_path / "corpus")
    bsrc = str(tmp_path / "batch")
    idx = str(tmp_path / "dedup_idx")
    spark.createDataFrame(corpus_rows, "doc_id long, text string").write.parquet(src)
    spark.createDataFrame(batch_rows, "doc_id long, text string").write.parquet(bsrc)

    eodd_cli.main(["dedupindex", "--index-dir", idx, "--build", src,
                   "--family", "simhash", "--max-hamming", "8",
                   "--band-bits", "6"])
    built = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert built["family"] == "simhash" and built["docs"] == 3

    eodd_cli.main(["dedupindex", "--index-dir", idx, "--probe", bsrc,
                   "--apply"])
    stats = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert stats["applied"] and stats["new_pairs"] >= 1

    cat = ParquetCatalog(spark, idx)
    got = {
        r["doc_id"]: r["cluster_id"] for r in cat.read("clusters").collect()
    }
    all_docs = spark.createDataFrame(
        corpus_rows + batch_rows, "doc_id long, text string"
    )
    want_pairs = D.simhash_neardup_pairs(
        all_docs, max_hamming=8, band_bits=6
    )
    want = {
        r["doc_id"]: r["cluster_id"]
        for r in D.neardup_clusters(
            all_docs, pairs=want_pairs.select("id_a", "id_b")
        ).collect()
    }
    assert got == want  # incremental apply == from-scratch rebuild
    # single-table family: index carries every doc exactly once per band
    assert cat.read("simhash_index").select("id").distinct().count() == 5


def test_cli_dedupindex_simhash_apply_is_replay_safe(spark, tmp_path, capsys):
    """Replaying the SAME batch through the simhash family converges: no
    duplicate index rows per (id, band), assignments unchanged — the same
    crash-recovery contract as the minhash family."""
    import eodd_cli
    from eodatadown_spark.catalog import ParquetCatalog

    base = "the quick brown fox jumps over the lazy dog " * 5
    src = str(tmp_path / "corpus")
    bsrc = str(tmp_path / "batch")
    idx = str(tmp_path / "dedup_idx")
    spark.createDataFrame(
        [(1, base), (2, base + " edited slightly"),
         (3, "a perfectly unique document about the weather today and "
             "tomorrow with plenty of words")],
        "doc_id long, text string",
    ).write.parquet(src)
    spark.createDataFrame(
        [(100, base)], "doc_id long, text string"
    ).write.parquet(bsrc)

    eodd_cli.main(["dedupindex", "--index-dir", idx, "--build", src,
                   "--family", "simhash", "--max-hamming", "8",
                   "--band-bits", "6"])
    eodd_cli.main(["dedupindex", "--index-dir", idx, "--probe", bsrc,
                   "--apply"])
    capsys.readouterr()
    cat = ParquetCatalog(spark, idx)
    first = {r["doc_id"]: r["cluster_id"] for r in cat.read("clusters").collect()}
    idx_rows = cat.read("simhash_index").count()

    eodd_cli.main(["dedupindex", "--index-dir", idx, "--probe", bsrc,
                   "--apply"])
    capsys.readouterr()
    again = {r["doc_id"]: r["cluster_id"] for r in cat.read("clusters").collect()}
    assert again == first
    assert cat.read("simhash_index").count() == idx_rows
    # uniqueness key is (id, t) — one row per band TABLE; `band` is the
    # band's value and can coincide across tables
    dup = (
        cat.read("simhash_index").groupBy("id", "t").count()
        .where(F.col("count") > 1).count()
    )
    assert dup == 0


def test_cli_dedupindex_simhash_pigeonhole_guard(spark, tmp_path, capsys):
    """--family simhash refuses a (band_bits, max_hamming) pair that voids
    the pigeonhole recall guarantee."""
    import eodd_cli

    src = str(tmp_path / "corpus")
    spark.createDataFrame(
        [(1, "some words here")], "doc_id long, text string"
    ).write.parquet(src)
    with pytest.raises(SystemExit, match="pigeonhole"):
        eodd_cli.main(["dedupindex", "--index-dir", str(tmp_path / "i"),
                       "--build", src, "--family", "simhash",
                       "--max-hamming", "4"])  # default band_bits 15 → 4 bands


def test_cli_dedupindex_apply_is_replay_safe(spark, tmp_path, capsys):
    """Re-running --apply for the SAME batch (the recovery action after a
    crash between the three catalog commits) must converge: no duplicate
    index/fingerprint rows per doc, and cluster assignments identical to
    the single-apply state — the round-8 partial-apply hardening."""
    import eodd_cli
    from eodatadown_spark.catalog import ParquetCatalog

    base = "the quick brown fox jumps over the lazy dog " * 5
    src = str(tmp_path / "corpus")
    bsrc = str(tmp_path / "batch")
    idx = str(tmp_path / "dedup_idx")
    spark.createDataFrame(
        [(1, base), (2, base + "edited"),
         (3, "a perfectly unique document about the weather today and "
             "tomorrow with plenty of words")],
        "doc_id long, text string",
    ).write.parquet(src)
    spark.createDataFrame(
        [(100, base),
         (101, "an entirely novel payload document with its own words "
               "unlike anything stored before now")],
        "doc_id long, text string",
    ).write.parquet(bsrc)

    eodd_cli.main(["dedupindex", "--index-dir", idx, "--build", src,
                   "--jaccard", "0.5"])
    eodd_cli.main(["dedupindex", "--index-dir", idx, "--probe", bsrc,
                   "--apply"])
    capsys.readouterr()
    cat = ParquetCatalog(spark, idx)
    first = {
        r["doc_id"]: r["cluster_id"]
        for r in cat.read("clusters").collect()
    }
    idx_rows = cat.read("band_index").count()
    fp_rows = cat.read("fingerprints").count()

    # replay the SAME batch — simulates rerun after a mid-apply crash
    eodd_cli.main(["dedupindex", "--index-dir", idx, "--probe", bsrc,
                   "--apply"])
    stats = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert stats["applied"] and stats["clusters"] == 3
    again = {
        r["doc_id"]: r["cluster_id"]
        for r in cat.read("clusters").collect()
    }
    assert again == first                       # assignments unchanged
    assert cat.read("band_index").count() == idx_rows   # no dup rows
    assert cat.read("fingerprints").count() == fp_rows  # no dup rows
    # per-doc uniqueness holds across the whole stored index
    dup = (
        cat.read("band_index").groupBy("id", "band_idx").count()
        .where(F.col("count") > 1).count()
    )
    assert dup == 0


def test_cli_annindex_lifecycle(spark, tmp_path, capsys):
    """annindex CLI: --build stores trained centroids + inverted lists;
    --query probes the stored index and equals a fresh ivf_topk over the
    corpus with the SAME centroids; --add folds a batch in (replay-safe)
    and subsequent probes see it."""
    import eodd_cli
    from eodatadown_spark.catalog import ParquetCatalog
    from eodatadown_spark.operators import similarity as S

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    corpus = emb.where(F.col("vec_id") % 5 != 0)
    batch = emb.where((F.col("vec_id") % 5 == 0) & (F.col("vec_id") >= 10))
    qs_src = emb.where(F.col("vec_id") < 10)
    src = str(tmp_path / "corpus"); bsrc = str(tmp_path / "batch")
    qsrc = str(tmp_path / "queries"); idx = str(tmp_path / "ann_idx")
    out = str(tmp_path / "res")
    corpus.write.parquet(src); batch.write.parquet(bsrc)
    qs_src.write.parquet(qsrc)

    eodd_cli.main(["annindex", "--index-dir", idx, "--build", src,
                   "--centroids", "8"])
    built = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert built["built"] and built["vectors"] == corpus.count()

    eodd_cli.main(["annindex", "--index-dir", idx, "--query", qsrc,
                   "--k", "3", "--n-probe", "2", "--out", out])
    stats = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert stats["queries"] == qs_src.count()
    got = {(r["query_id"], r["rank"]): r["neighbor_id"]
           for r in spark.read.parquet(out).collect()}
    cents = ParquetCatalog(spark, idx).read("centroids")
    want = {
        (r["query_id"], r["rank"]): r["neighbor_id"]
        for r in S.ivf_topk(
            corpus,
            qs_src.select(F.col("vec_id").alias("query_id"), "embedding"),
            k=3, n_probe=2, centroids=cents,
        ).collect()
    }
    assert got == want  # stored-index probe == fresh corpus-side IVF

    eodd_cli.main(["annindex", "--index-dir", idx, "--add", bsrc])
    added = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert added["index_vectors"] == corpus.count() + batch.count()
    eodd_cli.main(["annindex", "--index-dir", idx, "--add", bsrc])  # replay
    again = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert again["index_vectors"] == corpus.count() + batch.count()  # no dups

    eodd_cli.main(["annindex", "--index-dir", idx, "--query", qsrc,
                   "--k", "3", "--n-probe", "2", "--out", out])
    capsys.readouterr()
    got2 = {(r["query_id"], r["rank"]): r["neighbor_id"]
            for r in spark.read.parquet(out).collect()}
    want2 = {
        (r["query_id"], r["rank"]): r["neighbor_id"]
        for r in S.ivf_topk(
            corpus.unionByName(batch),
            qs_src.select(F.col("vec_id").alias("query_id"), "embedding"),
            k=3, n_probe=2, centroids=cents,
        ).collect()
    }
    assert got2 == want2  # post-add probe == fresh IVF over the union


def test_cli_annindex_sq8_lifecycle(spark, tmp_path, capsys):
    """annindex --kind sq8: --build persists trained scalars + code/vector
    tables; --query probes the stored codes and equals the fused sq8_topk
    with the SAME scalars; --add encodes with the STORED scalars
    (replay-safe) and subsequent probes see it."""
    import eodd_cli
    from eodatadown_spark.operators import similarity as S

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    corpus = emb.where(F.col("vec_id") % 5 != 0)
    batch = emb.where((F.col("vec_id") % 5 == 0) & (F.col("vec_id") >= 10))
    qs_src = emb.where(F.col("vec_id") < 10)
    src = str(tmp_path / "corpus"); bsrc = str(tmp_path / "batch")
    qsrc = str(tmp_path / "queries"); idx = str(tmp_path / "sq8_idx")
    out = str(tmp_path / "res")
    corpus.write.parquet(src); batch.write.parquet(bsrc)
    qs_src.write.parquet(qsrc)

    eodd_cli.main(["annindex", "--kind", "sq8", "--index-dir", idx,
                   "--build", src])
    built = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert built["built"] and built["vectors"] == corpus.count()

    eodd_cli.main(["annindex", "--kind", "sq8", "--index-dir", idx,
                   "--query", qsrc, "--k", "3", "--shortlist", "25",
                   "--out", out])
    capsys.readouterr()
    got = {(r["query_id"], r["rank"]): r["neighbor_id"]
           for r in spark.read.parquet(out).collect()}
    with open(os.path.join(idx, "ann_meta.json"), encoding="utf-8") as fh:
        meta = json.load(fh)
    scalars = (meta["mins"], meta["steps"])
    qs = qs_src.select(F.col("vec_id").alias("query_id"), "embedding")
    want = {
        (r["query_id"], r["rank"]): r["neighbor_id"]
        for r in S.sq8_topk(corpus, qs, k=3, shortlist=25,
                            scalars=scalars).collect()
    }
    assert got == want  # stored-code probe == fused from-scratch SQ8

    eodd_cli.main(["annindex", "--kind", "sq8", "--index-dir", idx,
                   "--add", bsrc])
    added = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert added["index_vectors"] == corpus.count() + batch.count()
    eodd_cli.main(["annindex", "--kind", "sq8", "--index-dir", idx,
                   "--add", bsrc])  # replay
    again = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert again["index_vectors"] == corpus.count() + batch.count()

    eodd_cli.main(["annindex", "--kind", "sq8", "--index-dir", idx,
                   "--query", qsrc, "--k", "3", "--shortlist", "25",
                   "--out", out])
    capsys.readouterr()
    got2 = {(r["query_id"], r["rank"]): r["neighbor_id"]
            for r in spark.read.parquet(out).collect()}
    want2 = {
        (r["query_id"], r["rank"]): r["neighbor_id"]
        for r in S.sq8_topk(corpus.unionByName(batch), qs, k=3,
                            shortlist=25, scalars=scalars).collect()
    }
    assert got2 == want2  # post-add probe == from-scratch over the union


def test_cli_annindex_sq8_rebuild_and_gc(spark, tmp_path, capsys):
    """sq8 rebuild commits through the atomic meta replace (each --build a
    new generation; the old triple stays readable until then) and --gc
    removes exactly the superseded generation tables."""
    import eodd_cli

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    src = str(tmp_path / "corpus"); qsrc = str(tmp_path / "queries")
    idx = str(tmp_path / "sq8_idx"); out = str(tmp_path / "res")
    emb.write.parquet(src)
    emb.where(F.col("vec_id") < 5).write.parquet(qsrc)

    eodd_cli.main(["annindex", "--kind", "sq8", "--index-dir", idx,
                   "--build", src])
    capsys.readouterr()
    with open(os.path.join(idx, "ann_meta.json"), encoding="utf-8") as fh:
        gen1 = json.load(fh)["codes_table"]
    eodd_cli.main(["annindex", "--kind", "sq8", "--index-dir", idx,
                   "--build", src])  # rebuild → new generation
    capsys.readouterr()
    with open(os.path.join(idx, "ann_meta.json"), encoding="utf-8") as fh:
        meta2 = json.load(fh)
    assert meta2["codes_table"] != gen1
    assert os.path.isdir(os.path.join(idx, gen1))  # old gen still on disk

    # default grace window: the superseded generation is seconds old, so
    # it's indistinguishable from a slower in-flight build and is SKIPPED
    eodd_cli.main(["annindex", "--index-dir", idx, "--gc"])
    graceful = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert gen1 in graceful["skipped_inflight"] and not graceful["removed"]
    assert os.path.isdir(os.path.join(idx, gen1))
    # --gc-grace-s=0 (known-quiesced): the superseded generation goes
    eodd_cli.main(["annindex", "--index-dir", idx, "--gc", "--gc-grace-s", "0"])
    gc_stats = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert gen1 in gc_stats["removed"]
    assert not os.path.isdir(os.path.join(idx, gen1))
    assert os.path.isdir(os.path.join(idx, meta2["codes_table"]))

    # queries still serve from the live generation after GC
    eodd_cli.main(["annindex", "--kind", "sq8", "--index-dir", idx,
                   "--query", qsrc, "--k", "3", "--out", out])
    capsys.readouterr()
    assert spark.read.parquet(out).count() == 15


def test_cli_annindex_add_and_query_follow_the_built_kind(
    spark, tmp_path, capsys
):
    """--kind is read only by --build: --query and --add on an sq8 index
    given without --kind take the family from ann_meta.json, so their
    results equal the same calls with --kind sq8."""
    import eodd_cli

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    corpus = emb.where(F.col("vec_id") % 5 != 0)
    batch = emb.where((F.col("vec_id") % 5 == 0) & (F.col("vec_id") >= 10))
    src = str(tmp_path / "corpus"); bsrc = str(tmp_path / "batch")
    qsrc = str(tmp_path / "queries"); idx = str(tmp_path / "sq8_idx")
    corpus.write.parquet(src); batch.write.parquet(bsrc)
    emb.where(F.col("vec_id") < 10).write.parquet(qsrc)

    eodd_cli.main(["annindex", "--kind", "sq8", "--index-dir", idx,
                   "--build", src])
    capsys.readouterr()

    def query(name, *kind):
        out = str(tmp_path / name)
        eodd_cli.main(["annindex", *kind, "--index-dir", idx, "--query",
                       qsrc, "--k", "3", "--shortlist", "25", "--out", out])
        stats = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        assert stats["kind"] == "sq8"
        return {(r["query_id"], r["rank"]): r["neighbor_id"]
                for r in spark.read.parquet(out).collect()}

    assert query("plain") == query("sq8", "--kind", "sq8")

    eodd_cli.main(["annindex", "--index-dir", idx, "--add", bsrc])
    added = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert added["kind"] == "sq8"
    assert added["index_vectors"] == corpus.count() + batch.count()
    assert query("plain_added") == query("sq8_added", "--kind", "sq8")


def test_cli_classify_lifecycle(spark, tmp_path, capsys):
    """classify CLI: --train persists a self-describing weights JSON;
    --score reproduces in-session scoring from the stored artifact;
    --gate keeps exactly the rows above threshold; --eval's confusion
    counts cover the corpus."""
    import eodd_cli
    from eodatadown_spark.operators import classify as C

    rows = (
        [(i, "the quick brown fox jumps over a lazy dog", True)
         for i in range(8)]
        + [(i, "lorem ipsum dolor sit amet consectetur adipiscing", False)
           for i in range(8, 16)]
    )
    src = str(tmp_path / "cls_docs")
    spark.createDataFrame(rows, "doc_id long, text string, good boolean").write.parquet(src)
    wpath = str(tmp_path / "weights.json")

    eodd_cli.main(["classify", "--train", src, "--weights", wpath,
                   "--label-col", "good", "--features", "16",
                   "--iters", "12", "--lr", "8.0", "--binary"])
    trained = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert trained["weights_out"] == wpath and os.path.exists(wpath)
    meta = json.load(open(wpath))
    assert len(meta["weights"]) == 17 and meta["binary"] is True

    # stored-artifact scoring == in-session scoring (the persistence contract)
    sout = str(tmp_path / "scored_pf")
    eodd_cli.main(["classify", "--score", src, "--weights", wpath,
                   "--out", sout])
    scored = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert scored["rows"] == 16
    docs = spark.read.parquet(src)
    in_session = {
        r["doc_id"]: r["prob"]
        for r in C.score_documents(docs, meta["weights"], binary=True).collect()
    }
    stored = {
        r["doc_id"]: r["prob"]
        for r in spark.read.parquet(sout).collect()
    }
    assert stored == in_session

    # disjoint vocabularies separate; the gate keeps exactly the positives
    gout = str(tmp_path / "gated_pf")
    eodd_cli.main(["classify", "--gate", src, "--weights", wpath,
                   "--out", gout, "--threshold", "0.5"])
    gated = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    kept = {r["doc_id"] for r in spark.read.parquet(gout).collect()}
    assert gated["rows"] == len(kept) == 8 and kept == set(range(8))

    eodd_cli.main(["classify", "--eval", src, "--weights", wpath,
                   "--label-col", "good"])
    ev = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert ev["n_tp"] + ev["n_fp"] + ev["n_fn"] + ev["n_tn"] == 16
    assert ev["n_tp"] == 8 and ev["n_tn"] == 8 and ev["f1"] == 1.0

    # missing-weights path fails loudly with a clean JSON error
    import pytest as _pytest
    with _pytest.raises(SystemExit):
        eodd_cli.main(["classify", "--score", src,
                       "--weights", str(tmp_path / "nope.json"),
                       "--out", str(tmp_path / "x")])
    err = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert "not found" in err["error"]


def test_cli_dataprep_with_learned_gate(spark, tmp_path, capsys):
    """dataprep --classify-weights: the learned gate runs after the rule
    quality filter and its survivor count lands in the stats line."""
    import eodd_cli

    rows = (
        [(i, "the quick brown fox jumps over a lazy dog near the river bank "
             "while the sun sets slowly", True) for i in range(4)]
        + [(i, "lorem ipsum dolor sit amet consectetur adipiscing elit sed "
               "do eiusmod tempor incididunt", False) for i in range(4, 8)]
    )
    src = str(tmp_path / "dp_docs")
    spark.createDataFrame(
        rows, "doc_id long, text string, good boolean"
    ).write.parquet(src)
    wpath = str(tmp_path / "dp_w.json")
    eodd_cli.main(["classify", "--train", src, "--weights", wpath,
                   "--label-col", "good", "--features", "16",
                   "--iters", "12", "--lr", "8.0", "--binary"])
    capsys.readouterr()

    out = str(tmp_path / "dp_out")
    eodd_cli.main(["dataprep", "--infile", src, "--out", out,
                   "--min-quality", "0.0", "--classify-weights", wpath])
    stats = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert stats["after_quality"] == 8
    assert stats["after_classifier"] == 4
    # downstream dedup stages collapse the identical positive texts; what
    # matters here is that ONLY classifier-approved docs reach the output
    kept = {r["doc_id"] for r in spark.read.parquet(out).collect()}
    assert kept and kept <= {0, 1, 2, 3}


def test_cli_classify_error_paths(spark, tmp_path, capsys):
    """classify CLI robustness: --score without --out fails cleanly;
    --eval without --label-col measures against the TRAINED label column
    (the artifact's contract), not the default rule."""
    import eodd_cli
    import pytest as _pytest

    rows = (
        [(i, "alpha beta gamma delta words", True) for i in range(4)]
        + [(i, "omega psi chi phi tokens", False) for i in range(4, 8)]
    )
    src = str(tmp_path / "cls_err_docs")
    spark.createDataFrame(
        rows, "doc_id long, text string, good boolean"
    ).write.parquet(src)
    wpath = str(tmp_path / "w_err.json")
    eodd_cli.main(["classify", "--train", src, "--weights", wpath,
                   "--label-col", "good", "--features", "16",
                   "--iters", "12", "--lr", "8.0", "--binary"])
    capsys.readouterr()

    with _pytest.raises(SystemExit):
        eodd_cli.main(["classify", "--score", src, "--weights", wpath])
    err = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert "--out" in err["error"]

    # no --label-col: 'good' (stored in the artifact) must be used — the
    # separable toy gives a perfect gate against it, while the default
    # language_guess rule would label everything negative here
    eodd_cli.main(["classify", "--eval", src, "--weights", wpath])
    ev = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert ev["n_tp"] == 4 and ev["n_tn"] == 4 and ev["f1"] == 1.0


def test_cli_dataprep_normalize_collapses_invisible_dups(spark, tmp_path, capsys):
    """--normalize: two docs identical modulo invisible dirt (zero-width,
    CRLF, doubled spaces) must collapse to ONE in exact dedup — without
    the flag they survive as distinct fingerprints."""
    import eodd_cli

    rows = [
        (1, "an identical document body with plenty of words to pass"),
        (2, "an​ identical  document body with plenty of words to pass\r\n"),
    ]
    src = str(tmp_path / "nz_docs")
    spark.createDataFrame(rows, "doc_id long, text string").write.parquet(src)

    out1 = str(tmp_path / "nz_out1")
    eodd_cli.main(["dataprep", "--infile", src, "--out", out1,
                   "--min-quality", "0.0"])
    no_norm = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    out2 = str(tmp_path / "nz_out2")
    eodd_cli.main(["dataprep", "--infile", src, "--out", out2,
                   "--min-quality", "0.0", "--normalize"])
    norm = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert no_norm["after_exact_dedup"] == 2
    assert norm["after_exact_dedup"] == 1


def test_cli_corpusstats_heavy_hitters(spark, tmp_path, capsys):
    """--heavy-hitters: exact top-N rides next to its Count-Min estimate,
    estimates dominating exact counts."""
    import eodd_cli

    rows = [(i, "alpha " * 5 + "beta " + "gamma", "en") for i in range(6)]
    src = str(tmp_path / "hh_docs")
    spark.createDataFrame(rows, "doc_id long, text string, lang string").write.parquet(src)
    eodd_cli.main(["corpusstats", "--infile", src, "--heavy-hitters", "3"])
    lines = [json.loads(l) for l in capsys.readouterr().out.strip().splitlines()]
    hh = [d for d in lines if "heavy_hitters" in d][0]["heavy_hitters"]
    assert [h["token"] for h in hh] == ["alpha", "beta", "gamma"]
    assert all(h["cms_cnt"] >= h["exact_cnt"] for h in hh)
    assert hh[0]["exact_cnt"] == 30


def test_cli_spanindex_lifecycle(spark, tmp_path, capsys):
    """spanindex: build -> probe (corpus dup found) -> apply -> re-probe
    (a batch-duplicating second batch now marks), replay-safe fold."""
    import eodd_cli

    shared = "t0 t1 t2 t3 t4 t5 t6 t7 t8 t9"
    corpus = str(tmp_path / "span_corpus")
    spark.createDataFrame(
        [(1, shared + " c1 c2"), (2, "distinct corpus words only here")],
        "doc_id long, text string",
    ).write.parquet(corpus)
    b1 = str(tmp_path / "span_b1")
    spark.createDataFrame(
        [(100, "h0 " + shared), (101, "fresh batch content nothing shared")],
        "doc_id long, text string",
    ).write.parquet(b1)
    b2 = str(tmp_path / "span_b2")
    spark.createDataFrame(
        [(200, "fresh batch content nothing shared at all")],
        "doc_id long, text string",
    ).write.parquet(b2)
    idx = str(tmp_path / "span_idx")

    eodd_cli.main(["spanindex", "--index-dir", idx, "--build", corpus,
                   "--window", "4"])
    built = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert built["built"] is True and built["docs"] == 2

    # probe: doc 100 duplicates the corpus run (10 tokens), doc 101 clean
    eodd_cli.main(["spanindex", "--index-dir", idx, "--probe", b1])
    p1 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert p1 == {"batch_docs": 2, "docs_with_spans": 1, "dup_tokens": 10}

    # apply b1, then b2's 5-token overlap with b1's doc 101 must mark
    eodd_cli.main(["spanindex", "--index-dir", idx, "--probe", b1,
                   "--apply"])
    capsys.readouterr()
    eodd_cli.main(["spanindex", "--index-dir", idx, "--probe", b2])
    p2 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert p2["docs_with_spans"] == 1 and p2["dup_tokens"] == 5


def test_cli_spanindex_arg_validation(spark, tmp_path):
    """ADVICE r11: neither --build nor --probe (or --apply without
    --probe) must be a USAGE error (SystemExit 2 from parser.error), not
    a FileNotFoundError/TypeError crash from open(None)."""
    import pytest

    import eodd_cli

    idx = str(tmp_path / "span_idx_v")
    with pytest.raises(SystemExit) as e:
        eodd_cli.main(["spanindex", "--index-dir", idx])
    assert e.value.code == 2
    with pytest.raises(SystemExit) as e:
        eodd_cli.main(["spanindex", "--index-dir", idx,
                       "--build", "a", "--probe", "b"])
    assert e.value.code == 2
    with pytest.raises(SystemExit) as e:
        eodd_cli.main(["spanindex", "--index-dir", idx,
                       "--build", "a", "--apply"])
    assert e.value.code == 2
    # dedupindex and annindex share the contract
    with pytest.raises(SystemExit) as e:
        eodd_cli.main(["dedupindex", "--index-dir", idx])
    assert e.value.code == 2
    with pytest.raises(SystemExit) as e:
        eodd_cli.main(["annindex", "--index-dir", idx])
    assert e.value.code == 2


def test_cli_spanindex_char_lifecycle(spark, tmp_path, capsys):
    """spanindex --unit char: build, probe and apply report char-granular
    stats."""
    import eodd_cli

    # caps on EVERY word: lowercasing breaks the run every <=6 chars, so
    # no 10-char window of the lowercased copy matches the original
    shared = "The Quick Brown Fox Jumps Over It"  # 33 chars
    corpus = str(tmp_path / "cspan_corpus")
    spark.createDataFrame(
        [(1, shared + " tail one"), (2, "unrelated corpus text here")],
        "doc_id long, text string",
    ).write.parquet(corpus)
    b1 = str(tmp_path / "cspan_b1")
    spark.createDataFrame(
        [(100, "lead " + shared), (101, "nothing shared here at all")],
        "doc_id long, text string",
    ).write.parquet(b1)
    b2 = str(tmp_path / "cspan_b2")
    spark.createDataFrame(
        [(200, "lead " + shared.lower())],  # case differs -> no char match
        "doc_id long, text string",
    ).write.parquet(b2)

    idx = str(tmp_path / "cspan_idx")
    eodd_cli.main(["spanindex", "--index-dir", idx, "--build", corpus,
                   "--window", "10", "--unit", "char"])
    built = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert built["unit"] == "char"

    eodd_cli.main(["spanindex", "--index-dir", idx, "--probe", b1])
    p1 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    # doc 100 duplicates the corpus's 33-char run; maximal span is the
    # full 33 chars (windows at offsets 5..28 of "lead <shared>")
    assert p1["docs_with_spans"] == 1 and p1["dup_chars"] == 33

    # apply b1, then b2 (lowercased copy) must NOT mark: char mode is
    # normalization-free, exact bytes only
    eodd_cli.main(["spanindex", "--index-dir", idx, "--probe", b1,
                   "--apply"])
    capsys.readouterr()
    eodd_cli.main(["spanindex", "--index-dir", idx, "--probe", b2])
    p2 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert p2["docs_with_spans"] == 0 and p2["dup_chars"] == 0


def test_cli_dedupindex_bucketed_probe_matches_plain(spark, tmp_path, capsys):
    """An index dir whose dedup_meta.json still carries the retired
    ``"bucketed": true`` keys probes the committed band index exactly like
    the plain dir: the keys are ignored."""
    import os

    import eodd_cli

    corpus = str(tmp_path / "bdi_corpus")
    spark.createDataFrame(
        [(i, f"shared shingle text block number {i % 2} common run")
         for i in range(6)],
        "doc_id long, text string",
    ).write.parquet(corpus)
    batch = str(tmp_path / "bdi_batch")
    spark.createDataFrame(
        [(100, "shared shingle text block number 0 common run")],
        "doc_id long, text string",
    ).write.parquet(batch)

    idx = str(tmp_path / "bdi_idx")
    eodd_cli.main(["dedupindex", "--index-dir", idx, "--build", corpus,
                   "--jaccard", "0.8"])
    capsys.readouterr()

    def probe() -> dict:
        eodd_cli.main(["dedupindex", "--index-dir", idx, "--probe", batch])
        return json.loads(capsys.readouterr().out.strip().splitlines()[-1])

    plain = probe()
    meta_path = os.path.join(idx, "dedup_meta.json")
    with open(meta_path, encoding="utf-8") as fh:
        meta = json.load(fh)
    meta.update({"bucketed": True, "buckets": 4})
    with open(meta_path, "w", encoding="utf-8") as fh:
        json.dump(meta, fh)
    assert probe() == plain
    assert plain["new_pairs"] >= 1
