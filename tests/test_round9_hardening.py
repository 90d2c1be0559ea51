"""Round-9 hardening tests (VERDICT/ADVICE r8 closures):

- write() build-vs-GC race: a plain write whose claimed dir is collected by
  a concurrent commit's GC retries instead of surfacing a spurious IO error
  or flipping the pointer to a deleted dir (ADVICE r8 low #3);
- replace_derived(): base-checked OCC for replaces that DERIVE from the
  table's own contents — concurrent folds serialize, neither lost
  (ADVICE r8 medium, the apply_neardup_batch clusters commit);
- commit-lock steal TOCTOU: a stealer that renamed away a FRESH lock
  (released + re-acquired between its getmtime and rename) restores it and
  keeps waiting; release is owner-token-checked so a holder whose lock was
  replaced never removes a successor's lock (ADVICE r8 low #2);
- driver-side sink collects are capped (VERDICT r8 item 5);
- get_spark(checkpoint_dir=...) routes operator _pin to RELIABLE
  checkpoints (VERDICT r8 item 8).
"""

from __future__ import annotations

import os
import threading
import time

import pytest
from pyspark.sql import functions as F


class TestWriteGcRace:
    def test_write_retries_when_build_hit_by_concurrent_gc(
        self, spark, tmp_path, monkeypatch
    ):
        """Build raises (simulating the winner's GC rmtree-ing the claimed
        dir mid-write) while the pointer moved: write() must treat it as
        conflict fallout and rebuild, not re-raise."""
        from eodatadown_spark.catalog import ParquetCatalog

        cat = ParquetCatalog(spark, str(tmp_path), retain_versions=4)
        df0 = spark.createDataFrame([(1, "a")], "pid long, v string")
        cat.write(df0, "flat", partition=False)

        orig = ParquetCatalog._write_version
        fired = {"done": False}

        def hooked(self, df, table, partition=True, *args, **kw):
            if not fired["done"]:
                fired["done"] = True
                # a concurrent merge commits in our window (moves the pointer)
                ParquetCatalog(spark, str(tmp_path), retain_versions=4).merge_updates(
                    "flat",
                    spark.createDataFrame([(1, "m")], "pid long, v string"),
                    key="pid",
                )
                # ...and its GC collected our claimed build mid-write
                raise OSError("part file vanished under concurrent GC")
            return orig(self, df, table, partition, *args, **kw)

        monkeypatch.setattr(ParquetCatalog, "_write_version", hooked)
        cat.write(
            spark.createDataFrame([(2, "b")], "pid long, v string"),
            "flat", partition=False,
        )
        # replace semantics: the retried write wins outright
        assert [(r["pid"], r["v"]) for r in cat.read("flat").collect()] == [(2, "b")]

    def test_write_retries_when_claimed_dir_vanishes_before_flip(
        self, spark, tmp_path, monkeypatch
    ):
        """Build succeeds but the claimed dir is collected between build and
        flip: the locked isdir check must catch it and rebuild — flipping
        the pointer to a deleted dir would break every reader."""
        import shutil

        from eodatadown_spark.catalog import ParquetCatalog

        cat = ParquetCatalog(spark, str(tmp_path), retain_versions=4)
        cat.write(
            spark.createDataFrame([(1, "a")], "pid long, v string"),
            "flat", partition=False,
        )
        orig = ParquetCatalog._write_version
        fired = {"done": False}

        def hooked(self, df, table, partition=True, *args, **kw):
            version, out = orig(self, df, table, partition, *args, **kw)
            if not fired["done"]:
                fired["done"] = True
                shutil.rmtree(out)  # concurrent commit's GC collected it
            return version, out

        monkeypatch.setattr(ParquetCatalog, "_write_version", hooked)
        cat.write(
            spark.createDataFrame([(2, "b")], "pid long, v string"),
            "flat", partition=False,
        )
        assert [(r["pid"], r["v"]) for r in cat.read("flat").collect()] == [(2, "b")]
        # the pointer names a dir that exists
        cur = cat._current_version("flat")
        assert os.path.isdir(os.path.join(str(tmp_path), "flat", cur))

    def test_write_real_build_error_still_raises(self, spark, tmp_path, monkeypatch):
        """A genuine build failure (pointer unmoved) must surface, not spin
        the retry loop."""
        from eodatadown_spark.catalog import ParquetCatalog

        cat = ParquetCatalog(spark, str(tmp_path), retain_versions=4)
        cat.write(
            spark.createDataFrame([(1, "a")], "pid long, v string"),
            "flat", partition=False,
        )

        def boom(self, df, table, partition=True, *args, **kw):
            raise OSError("disk full")

        monkeypatch.setattr(ParquetCatalog, "_write_version", boom)
        with pytest.raises(OSError, match="disk full"):
            cat.write(
                spark.createDataFrame([(2, "b")], "pid long, v string"),
                "flat", partition=False,
            )


class TestReplaceDerived:
    def test_concurrent_folds_both_land(self, spark, tmp_path, monkeypatch):
        """Two replace_derived folds with a deterministic conflict in the
        window: the loser re-reads the winner's commit and re-derives —
        neither fold lost (the bug a plain LWW write() has)."""
        from eodatadown_spark.catalog import ParquetCatalog

        cat = ParquetCatalog(spark, str(tmp_path), retain_versions=4)
        cat.write(
            spark.createDataFrame(
                [(p, "x") for p in range(4)], "pid long, v string"
            ),
            "flat", partition=False,
        )

        def fold(pid, val):
            return lambda cur: cur.withColumn(
                "v", F.when(F.col("pid") == pid, val).otherwise(F.col("v"))
            )

        orig = ParquetCatalog._write_version
        fired = {"done": False}

        def hooked(self, df, table, partition=True, *args, **kw):
            if not fired["done"]:
                fired["done"] = True
                ParquetCatalog(
                    spark, str(tmp_path), retain_versions=4
                ).replace_derived("flat", fold(1, "A"), partition=False)
            return orig(self, df, table, partition, *args, **kw)

        monkeypatch.setattr(ParquetCatalog, "_write_version", hooked)
        cat.replace_derived("flat", fold(2, "B"), partition=False)
        got = {r["pid"]: r["v"] for r in cat.read("flat").collect()}
        assert got == {0: "x", 1: "A", 2: "B", 3: "x"}

    def test_threaded_folds_all_land(self, spark, tmp_path):
        from eodatadown_spark.catalog import ParquetCatalog

        cat = ParquetCatalog(spark, str(tmp_path), retain_versions=8)
        cat.write(
            spark.createDataFrame(
                [(p, 0) for p in range(4)], "pid long, n long"
            ),
            "flat", partition=False,
        )
        errs = []

        def work(pid):
            try:
                ParquetCatalog(
                    spark, str(tmp_path), retain_versions=8
                ).replace_derived(
                    "flat",
                    lambda cur: cur.withColumn(
                        "n",
                        F.when(F.col("pid") == pid, F.col("n") + 100).otherwise(
                            F.col("n")
                        ),
                    ),
                    partition=False, occ_retries=10,
                )
            except Exception as exc:  # pragma: no cover - failure detail
                errs.append(exc)

        threads = [threading.Thread(target=work, args=(p,)) for p in range(4)]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        assert not errs
        got = {r["pid"]: r["n"] for r in cat.read("flat").collect()}
        assert got == {0: 100, 1: 100, 2: 100, 3: 100}

    def test_value_error_in_build_fn_is_not_retried(self, spark, tmp_path):
        """A ValueError from build_fn is a validation error, never conflict
        fallout: it surfaces after ONE call even when the pointer moved
        during the build."""
        from eodatadown_spark.catalog import ParquetCatalog

        cat = ParquetCatalog(spark, str(tmp_path), retain_versions=4)
        cat.write(
            spark.createDataFrame([(1, "a")], "pid long, v string"),
            "flat", partition=False,
        )
        calls = {"n": 0}

        def build_fn(cur):
            calls["n"] += 1
            # a competing commit moves the pointer, then the build rejects
            ParquetCatalog(spark, str(tmp_path), retain_versions=4).write(
                spark.createDataFrame([(2, "b")], "pid long, v string"),
                "flat", partition=False,
            )
            raise ValueError("bad fold input")

        with pytest.raises(ValueError, match="bad fold input"):
            cat.replace_derived("flat", build_fn, partition=False)
        assert calls["n"] == 1

    def test_apply_neardup_batch_routes_clusters_through_occ(
        self, spark, tmp_path, monkeypatch
    ):
        """The continuous-dedup clusters fold (derived from the clusters
        table itself) must commit via replace_derived, not LWW write()."""
        from eodatadown_spark.catalog import ParquetCatalog
        from eodatadown_spark.operators import dedup as D
        from eodatadown_spark.streaming.incremental import apply_neardup_batch

        docs = spark.createDataFrame(
            [(i, f"the quick brown fox jumps over dog number {i % 3}")
             for i in range(6)],
            "doc_id long, text string",
        )
        cat = ParquetCatalog(spark, str(tmp_path), retain_versions=4)
        cat.write(D.minhash_band_index(docs), "band_index", partition=False)
        cat.write(D.shingle_hash_table(docs), "fingerprints", partition=False)
        cat.write(
            D.neardup_clusters(docs, threshold=0.7), "clusters", partition=False
        )

        calls = []
        orig = ParquetCatalog.replace_derived

        def spy(self, table, build_fn, partition=True, occ_retries=5):
            calls.append(table)
            return orig(self, table, build_fn, partition, occ_retries)

        monkeypatch.setattr(ParquetCatalog, "replace_derived", spy)
        batch = spark.createDataFrame(
            [(100, "the quick brown fox jumps over dog number 0")],
            "doc_id long, text string",
        )
        stats = apply_neardup_batch(cat, batch, jaccard_threshold=0.7)
        assert calls == ["clusters"]
        assert stats["batch_docs"] == 1
        # the new doc joined doc 0/3's cluster via the stored-index probe
        assign = {
            r["doc_id"]: r["cluster_id"]
            for r in cat.read("clusters").collect()
        }
        assert 100 in assign and assign[100] == assign[0]


class TestLockStealToctou:
    def test_fresh_lock_stolen_by_mistake_is_restored(
        self, spark, tmp_path, monkeypatch
    ):
        """The ADVICE TOCTOU: the holder releases and ANOTHER writer
        re-acquires between the stealer's getmtime and rename.  Simulated by
        one stale getmtime reading against a genuinely FRESH lock: the
        stealer renames it away, the post-rename mtime re-check sees it is
        fresh, renames it back, and keeps waiting (timeout) — the live
        holder's lock and owner token survive untouched."""
        from eodatadown_spark.catalog import ParquetCatalog

        cat = ParquetCatalog(spark, str(tmp_path))
        tdir = os.path.join(str(tmp_path), "tbl")
        os.makedirs(tdir, exist_ok=True)
        lock = os.path.join(tdir, "_COMMIT_LOCK")
        os.mkdir(lock)  # the live holder's FRESH lock
        with open(os.path.join(lock, "owner"), "w", encoding="utf-8") as fh:
            fh.write("live-holder-token")

        real_getmtime = os.path.getmtime
        lied = {"n": 0}

        def lying_getmtime(path):
            # first query against the LOCK path reports crash-debris age
            if path == lock and lied["n"] == 0:
                lied["n"] += 1
                return time.time() - 10_000
            return real_getmtime(path)

        monkeypatch.setattr(os.path, "getmtime", lying_getmtime)
        with pytest.raises(TimeoutError):
            with cat._commit_lock("tbl", timeout=1.0, steal_after=120.0):
                pass  # pragma: no cover - must not be reached
        # the live lock was restored, token intact, no stale debris
        assert os.path.isdir(lock)
        with open(os.path.join(lock, "owner"), encoding="utf-8") as fh:
            assert fh.read() == "live-holder-token"
        assert not [d for d in os.listdir(tdir) if d.startswith("_COMMIT_LOCK.")]

    def test_release_is_owner_token_checked(self, spark, tmp_path):
        """A holder whose lock dir was replaced by a successor's (the
        residual three-writer interleave) must NOT remove the successor's
        lock on release."""
        import shutil

        from eodatadown_spark.catalog import ParquetCatalog

        cat = ParquetCatalog(spark, str(tmp_path))
        tdir = os.path.join(str(tmp_path), "tbl")
        os.makedirs(tdir, exist_ok=True)
        lock = os.path.join(tdir, "_COMMIT_LOCK")
        with cat._commit_lock("tbl", timeout=5.0):
            # successor replaced our lock while we were in the section
            shutil.rmtree(lock)
            os.mkdir(lock)
            with open(os.path.join(lock, "owner"), "w", encoding="utf-8") as fh:
                fh.write("successor-token")
        assert os.path.isdir(lock)  # successor's lock survived our release
        with open(os.path.join(lock, "owner"), encoding="utf-8") as fh:
            assert fh.read() == "successor-token"
        os.remove(os.path.join(lock, "owner"))
        os.rmdir(lock)

    def test_threaded_lock_storm_mutual_exclusion(self, spark, tmp_path):
        """8 threads × 10 acquisitions hammering one table's commit lock:
        a non-atomic read-modify-write counter under the lock must never
        lose an increment (mutual exclusion), and the lock dir must be
        gone at the end (every release found its own token)."""
        import threading

        from eodatadown_spark.catalog import ParquetCatalog

        cat = ParquetCatalog(spark, str(tmp_path))
        tdir = os.path.join(str(tmp_path), "tbl")
        os.makedirs(tdir, exist_ok=True)
        counter_path = os.path.join(str(tmp_path), "counter")
        with open(counter_path, "w", encoding="utf-8") as fh:
            fh.write("0")
        errs = []

        def work():
            try:
                for _ in range(10):
                    with ParquetCatalog(spark, str(tmp_path))._commit_lock(
                        "tbl", timeout=30.0
                    ):
                        with open(counter_path, encoding="utf-8") as fh:
                            n = int(fh.read())
                        time.sleep(0.001)  # widen the lost-update window
                        with open(counter_path, "w", encoding="utf-8") as fh:
                            fh.write(str(n + 1))
            except Exception as exc:  # pragma: no cover - failure detail
                errs.append(exc)

        threads = [threading.Thread(target=work) for _ in range(8)]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        assert not errs
        with open(counter_path, encoding="utf-8") as fh:
            assert int(fh.read()) == 80
        assert not os.path.exists(os.path.join(tdir, "_COMMIT_LOCK"))
        assert not [d for d in os.listdir(tdir) if d.startswith("_COMMIT_LOCK.")]

    def test_normal_acquire_release_and_stale_steal_still_work(
        self, spark, tmp_path
    ):
        from eodatadown_spark.catalog import ParquetCatalog

        cat = ParquetCatalog(spark, str(tmp_path))
        tdir = os.path.join(str(tmp_path), "tbl")
        os.makedirs(tdir, exist_ok=True)
        lock = os.path.join(tdir, "_COMMIT_LOCK")
        with cat._commit_lock("tbl", timeout=5.0):
            assert os.path.isdir(lock)
            assert os.path.exists(os.path.join(lock, "owner"))
        assert not os.path.exists(lock)
        # genuine crash debris (stale mtime all the way through) is stolen
        os.mkdir(lock)
        old = time.time() - 1_000
        os.utime(lock, (old, old))
        with cat._commit_lock("tbl", timeout=5.0, steal_after=120.0):
            assert os.path.isdir(lock)
        assert not os.path.exists(lock)
        assert not [d for d in os.listdir(tdir) if d.startswith("_COMMIT_LOCK.")]


class TestSinkCollectCaps:
    def test_bounded_collect_under_cap_passes(self, spark):
        from eodatadown_spark import sinks

        rows = sinks.bounded_collect(spark.range(5).toDF("n"), "test", cap=10)
        assert len(rows) == 5

    def test_bounded_collect_over_cap_raises(self, spark):
        from eodatadown_spark import sinks

        with pytest.raises(ValueError, match="driver-side sink cap"):
            sinks.bounded_collect(spark.range(100).toDF("n"), "test", cap=10)

    def test_export_geojson_capped(self, spark, tmp_path, monkeypatch):
        from eodatadown_spark import sinks

        scenes = spark.createDataFrame(
            [(i, -10.0, 10.0, -5.0, 5.0) for i in range(8)],
            "pid long, west_lon double, east_lon double, "
            "south_lat double, north_lat double",
        )
        monkeypatch.setattr(sinks, "DRIVER_COLLECT_CAP", 3)
        with pytest.raises(ValueError, match="export_geojson"):
            sinks.export_geojson(scenes, str(tmp_path / "out.geojson"))
        monkeypatch.setattr(sinks, "DRIVER_COLLECT_CAP", 100)
        n = sinks.export_geojson(scenes, str(tmp_path / "out.geojson"))
        assert n == 8

    def test_date_report_pdf_capped(self, spark, tmp_path, monkeypatch):
        from eodatadown_spark import datereports, sinks

        obs = spark.createDataFrame(
            [("2020-01-0%d" % (i + 1), "LANDSAT_8", "LandsatGOOG", None)
             for i in range(5)],
            "obs_date string, platform_id string, sensor_id string, "
            "overviews string",
        )
        monkeypatch.setattr(sinks, "DRIVER_COLLECT_CAP", 2)
        with pytest.raises(ValueError, match="render_date_report_pdf"):
            datereports.render_date_report_pdf(
                obs, "t", "LandsatGOOG", str(tmp_path / "r.pdf")
            )


class TestIncrementalPhaseSplit:
    """The bench's build/probe split (VERDICT r8 item 3) must stay in sync
    with the fused registry queries: same operators, same parameters, same
    batches — so probe(build()) returns EXACTLY the fused query's rows."""

    SF = "/root/testdata/sf0.001"

    @pytest.mark.skipif(
        not os.path.isdir("/root/testdata/sf0.001"),
        reason="driver testdata not present",
    )
    def test_split_equals_fused(self, spark):
        import __spark_entry__ as E

        fused = E.queries()
        for name, (build, probe) in E.incremental_phases().items():
            state = build(spark, self.SF)
            split_rows = sorted(
                map(tuple, probe(spark, self.SF, state).collect())
            )
            fused_rows = sorted(map(tuple, fused[name](spark, self.SF).collect()))
            assert split_rows == fused_rows, name


class TestBpeEncode:
    """bpe_encode_documents vs a pure-Python reference fold (the same
    left-to-right non-overlapping merge rule the trainer's regex applies),
    on a fixture loaded with the tricky cases: consecutive occurrences
    ('ananab'), self-pairs ('aaa'), chained merges ('the' via t+h then
    th+e), and multi-word position reassembly."""

    MERGES = [("t", "h"), ("th", "e"), ("a", "n"), ("a", "a")]

    @staticmethod
    def _py_encode(words, merges):
        out = {}
        for w in set(words):
            syms = list(w)
            for left, right in merges:
                res = []
                for s in syms:
                    if res and res[-1] == left and s == right:
                        res[-1] = left + right
                    else:
                        res.append(s)
                syms = res
            out[w] = syms
        return out

    def test_matches_python_reference(self, spark):
        from eodatadown_spark.operators.corpus import bpe_encode_documents

        rows = [
            (1, "the ananab aaa"),
            (2, "ttht the  hth"),
            (3, "ananan theth"),
        ]
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        got = bpe_encode_documents(docs, self.MERGES).collect()

        all_words = [w for _id, t in rows for w in t.split()]
        subs = self._py_encode(all_words, self.MERGES)
        vocab = {t: i for i, t in enumerate(
            sorted({s for ss in subs.values() for s in ss})
        )}
        expected = set()
        for doc_id, text in rows:
            pos = 0
            for w in text.split():
                for s in subs[w]:
                    expected.add((doc_id, pos, s, vocab[s]))
                    pos += 1
        assert {(r["doc_id"], r["pos"], r["token"], r["token_id"])
                for r in got} == expected

    def test_lossless_and_count_consistent(self, spark):
        """Concatenating each doc's tokens in position order reproduces the
        tokenized text exactly (no characters lost or duplicated), and the
        per-doc token count equals bpe_token_counts under the same merges."""
        from eodatadown_spark.operators.corpus import (
            bpe_encode_documents,
            bpe_token_counts,
        )

        docs = spark.read.parquet(
            "/root/testdata/sf0.001/documents.parquet"
        ).where(F.col("doc_id") < 30)
        enc = bpe_encode_documents(docs, self.MERGES)
        rebuilt = {
            r["doc_id"]: r["s"]
            for r in enc.groupBy("doc_id")
            .agg(F.concat_ws("", F.array_sort(
                F.collect_list(F.struct("pos", "token"))
            ).getField("token")).alias("s"))
            .collect()
        }
        source = {
            r["doc_id"]: "".join(r["text"].lower().split())
            for r in docs.select("doc_id", "text").collect()
        }
        for doc_id, joined in source.items():
            if joined:
                assert rebuilt[doc_id] == joined, doc_id
        counts = {
            r["doc_id"]: r["n"]
            for r in enc.groupBy("doc_id").agg(F.count("*").alias("n")).collect()
        }
        ref = {
            r["doc_id"]: r["n_tokens_bpe"]
            for r in bpe_token_counts(docs, self.MERGES).collect()
        }
        for doc_id, n in ref.items():
            assert counts.get(doc_id, 0) == n, doc_id


class TestCheckpointDirKnob:
    def test_get_spark_checkpoint_dir_routes_pin_to_reliable(
        self, spark, tmp_path_factory
    ):
        """VERDICT r8 item 8: get_spark(checkpoint_dir=...) configures the
        context so operator _pin takes the RELIABLE df.checkpoint path
        (recompute-safe across executor loss) instead of localCheckpoint."""
        from eodatadown_spark.operators.dedup import _pin
        from eodatadown_spark.session import get_spark

        ckdir = str(tmp_path_factory.mktemp("reliable_ck"))
        s2 = get_spark(
            "tests", master="local[4]", shuffle_partitions=4,
            checkpoint_dir=ckdir,
        )
        assert s2 is spark  # getOrCreate reuse: knob configures the live ctx
        assert spark.sparkContext.getCheckpointDir() is not None
        pinned = _pin(spark.range(10).toDF("n"))
        assert pinned.count() == 10
        files = [
            os.path.join(root, f)
            for root, _dirs, fs in os.walk(ckdir)
            for f in fs
        ]
        assert files, "reliable checkpoint wrote nothing to the configured dir"
