"""Parquet-backed catalog storage with atomic read-modify-write.

The reference mutates catalog rows in place through an RDBMS session
(SURVEY.md §2.11).  On immutable Parquet the equivalent is batched
read-modify-overwrite: compute the new table as a DataFrame, write it to a
versioned directory, then flip a pointer — never a partial in-place rewrite,
so a crashed job can't tear the catalog.

Layout per table::

    <root>/<table>/_CURRENT          # text file: name of live version dir
    <root>/<table>/v_<n>/...parquet  # data versions (date-partitioned)

At 100 TB scale the same pattern holds (the pointer flip is what table
formats like Delta/Iceberg formalize; those jars aren't in this image, so the
catalog implements the minimal version-pointer variant itself).  Sensor
tables are partitioned by ``year(date-col)`` so the reference's date-keyed
access patterns (F1/F2/F12) get partition pruning.
"""

from __future__ import annotations

import json
import os
import shutil
import time
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from eodatadown_spark import schemas

_CURRENT = "_CURRENT"


def _has_parquet_files(path: str) -> bool:
    for _root, _dirs, files in os.walk(path):
        if any(f.endswith(".parquet") for f in files):
            return True
    return False


def _as_string_schema(schema):
    """Same field names, all StringType — staging schema for JSON import."""
    from pyspark.sql import types as T

    return T.StructType([T.StructField(f.name, T.StringType(), True) for f in schema.fields])

# partition column derived from each table's natural date column
PARTITION_SOURCE: dict[str, str] = {
    name: col for name, col in schemas.WATERMARK_COLS.items()
}


def _partition_rel_dir(row, part_cols: list[str]) -> str:
    """Hive-style relative dir for a partition-value row."""
    return "/".join(
        f"{c}={row[c]}" if row[c] is not None else f"{c}=__HIVE_DEFAULT_PARTITION__"
        for c in part_cols
    )


def _with_parts(df: DataFrame, part_src: str, part_cols: list[str]) -> DataFrame:
    """Add the physical partition columns, derived from ``part_src``."""
    df = df.withColumn("p_year", F.year(F.col(part_src)))
    if "p_month" in part_cols:
        df = df.withColumn("p_month", F.month(F.col(part_src)))
    return df


def _partition_match_cond(changed, part_cols: list[str]):
    """Column predicate selecting rows in any of the ``changed`` partitions."""
    cond = F.lit(False)
    for r in changed:
        match = F.lit(True)
        for c in part_cols:
            match = match & (
                F.col(c).isNull() if r[c] is None else (F.col(c) == F.lit(r[c]))
            )
        cond = cond | match
    return cond


class ParquetCatalog:
    """Versioned Parquet tables under a root directory.

    ``retain_versions`` controls reader retention: the newest N version dirs
    survive each write (default 2 = current + previous), so a lazy DataFrame
    held from a read() stays valid across ONE subsequent write — older
    versions are garbage-collected by later writes, not deleted inline at
    flip time.  Holding a DataFrame across more than ``retain_versions - 1``
    writes is still undefined (raise N for long-lived readers).
    """

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        retain_versions: int = 2,
        partition_monthly: bool = False,
    ):
        self.spark = spark
        self.root = root
        self.retain_versions = max(1, retain_versions)
        # second partition level for very large catalogs: p_year/p_month.
        # Month-granular pruning AND month-granular selective merges — the
        # 100 TB knob; all code paths below are depth-generic.
        self.partition_monthly = partition_monthly
        os.makedirs(root, exist_ok=True)

    @property
    def _part_cols(self) -> list[str]:
        return ["p_year", "p_month"] if self.partition_monthly else ["p_year"]

    # -- paths ------------------------------------------------------------
    def _table_dir(self, table: str) -> str:
        return os.path.join(self.root, table)

    def _current_version(self, table: str) -> str | None:
        pointer = os.path.join(self._table_dir(table), _CURRENT)
        if not os.path.exists(pointer):
            return None
        with open(pointer, encoding="utf-8") as fh:
            return fh.read().strip()

    def data_path(self, table: str) -> str:
        version = self._current_version(table)
        if version is None:
            raise FileNotFoundError(f"catalog table not initialised: {table}")
        return os.path.join(self._table_dir(table), version)

    def exists(self, table: str) -> bool:
        return self._current_version(table) is not None

    # -- read/write -------------------------------------------------------
    def read(self, table: str) -> DataFrame:
        return self._read_path(table, self.data_path(table))

    def _read_path(self, table: str, path: str) -> DataFrame:
        # an empty partitioned write emits no part files → schema inference
        # fails; ONLY that case falls back to the declared schema (a blanket
        # except would turn transient read errors into silent catalog wipes)
        if not _has_parquet_files(path):
            declared = schemas.ALL_SCHEMAS.get(table)
            if declared is not None:
                return self.spark.createDataFrame([], schema=declared)
        return self.spark.read.parquet(path)

    @contextmanager
    def _commit_lock(self, table: str, timeout: float = 30.0,
                     steal_after: float = 120.0):
        """Exclusive commit section via an atomically-RENAMED claim dir
        (POSIX-local lock — the deployment shape of this catalog).  The
        lock dir is created pre-populated with its owner token, so a live
        lock is never empty and no rename can ever silently replace it.  A
        lock older than ``steal_after`` is presumed crash debris and stolen
        (rename-away + freshness re-check)."""
        lock = os.path.join(self._table_dir(table), "_COMMIT_LOCK")
        token = f"{os.getpid()}.{time.time_ns()}"
        deadline = time.time() + timeout
        while True:
            # Acquire by renaming a PRE-POPULATED claim dir into place: the
            # lock is born with its owner token inside, so a live lock dir
            # is never empty — rename(2) onto a non-empty dir fails with
            # ENOTEMPTY, which makes BOTH the acquire and the stealer's
            # rename-back collision-proof (a bare mkdir-then-write-owner
            # acquire has a microsecond empty-dir window a rename-back
            # could silently replace).  An owner-write failure (ENOSPC)
            # aborts before the lock exists instead of stranding an
            # ownerless held lock for steal_after seconds.
            claim = f"{lock}.claim.{os.getpid()}.{time.time_ns()}"
            try:
                os.mkdir(claim)
                with open(os.path.join(claim, "owner"), "w", encoding="utf-8") as fh:
                    fh.write(token)
            except OSError:
                # a real IO error (ENOSPC, perms) — surface it rather than
                # strand a half-built claim or an ownerless lock
                shutil.rmtree(claim, ignore_errors=True)
                raise
            try:
                os.rename(claim, lock)
                break  # acquired — the lock is born non-empty, token inside
            except OSError:
                shutil.rmtree(claim, ignore_errors=True)
            # lock held by someone else: steal if stale, else wait
            try:
                if time.time() - os.path.getmtime(lock) > steal_after:
                    # steal by ATOMIC RENAME to a unique name — exactly one
                    # stealer wins the rename; an rmdir here could delete a
                    # FRESH lock recreated by another stealer between our
                    # getmtime and the rmdir, letting two writers into the
                    # commit section at once
                    stale = f"{lock}.stale.{os.getpid()}.{time.time_ns()}"
                    os.rename(lock, stale)
                    # TOCTOU re-check (ADVICE r8): rename preserves mtime, so
                    # a FRESH renamed dir means the original holder released
                    # and another writer re-acquired between our getmtime and
                    # our rename — we stole a LIVE lock.  Restore it: since
                    # every live lock is born NON-EMPTY (owner inside), the
                    # rename-back fails with ENOTEMPTY iff a third writer
                    # already re-created the slot, in which case we drop the
                    # stolen dir — the live holder's token-checked release
                    # then leaves the third writer's lock alone.
                    try:
                        fresh = (
                            time.time() - os.path.getmtime(stale)
                            <= steal_after
                        )
                    except OSError:
                        fresh = False
                    if fresh:
                        try:
                            os.rename(stale, lock)
                        except OSError:
                            shutil.rmtree(stale, ignore_errors=True)
                    else:
                        shutil.rmtree(stale, ignore_errors=True)
                    continue
            except OSError:
                continue  # lock vanished / another stealer won the rename
            if time.time() > deadline:
                raise TimeoutError(
                    f"catalog commit lock busy for table {table!r}"
                )
            time.sleep(0.05)
        try:
            yield
        finally:
            # token-checked release: remove the lock only if it is still
            # OURS — after a mistaken steal-and-drop, the slot may already
            # hold another writer's live lock.  Residual TOCTOU: a steal
            # landing between this read and the rmdir requires our commit
            # section to have ALREADY exceeded steal_after (the lock was
            # steal-eligible while we held it) — keep commit sections far
            # under steal_after; they are pointer flips, not builds
            try:
                owner = os.path.join(lock, "owner")
                with open(owner, encoding="utf-8") as fh:
                    held = fh.read() == token
                if held:
                    os.remove(owner)
                    os.rmdir(lock)
            except OSError:
                pass

    def _flip_and_gc(self, table: str, version: str) -> None:
        """Atomic pointer flip + GC of versions beyond the retention window.

        Retention ranks only versions that were ever COMMITTED — i.e. at
        or below the pointer being replaced — plus the new version.  Dirs
        ABOVE the new pointer are crash debris from interrupted writes,
        and (since the exclusive version-dir claim of round 7) dirs
        strictly BETWEEN the previous pointer and the new one are
        claimed-but-never-committed debris too: a crashed writer's
        claimed dir, or a concurrent loser's build (which rebuilds via
        its conflict retry).  Both classes are deleted outright — were
        they ranked, an orphan would consume a retention slot and push a
        genuinely readable old version out of the window, breaking lazy
        readers.
        """
        table_dir = self._table_dir(table)
        prev = self._current_version(table)
        prev_v = int(prev.split("_")[1]) if prev else -1
        tmp_pointer = os.path.join(table_dir, _CURRENT + ".tmp")
        with open(tmp_pointer, "w", encoding="utf-8") as fh:
            fh.write(version)
        os.replace(tmp_pointer, os.path.join(table_dir, _CURRENT))  # atomic flip
        new_v = int(version.split("_")[1])
        on_disk = self._versions_on_disk(table)
        stale = [v for v in on_disk if v > new_v]  # crash debris
        stale += [v for v in on_disk if prev_v < v < new_v]  # unclaimed debris
        committed = sorted(
            (v for v in on_disk if v <= prev_v), reverse=True
        )
        stale += committed[max(self.retain_versions - 1, 0):]
        for stale_v in stale:
            shutil.rmtree(os.path.join(table_dir, f"v_{stale_v}"), ignore_errors=True)

    def _claim_version(self, table: str) -> tuple[str, str]:
        """Claim the next version dir EXCLUSIVELY via atomic ``mkdir``,
        bumping past any existing dir: a leftover same-numbered dir may be
        crash debris (GC clears it at the next flip) or a CONCURRENT
        writer's live build — either way, never rmtree-and-reuse it, which
        under concurrency would delete another writer's work mid-build.
        The pointer always flips LAST (and under :meth:`_commit_lock`), so
        claimed-but-uncommitted dirs are invisible to readers."""
        table_dir = self._table_dir(table)
        os.makedirs(table_dir, exist_ok=True)
        old = self._current_version(table)
        n = 0 if old is None else int(old.split("_")[1]) + 1
        while True:
            version = f"v_{n}"
            out = os.path.join(table_dir, version)
            try:
                os.makedirs(out)
                return version, out
            except FileExistsError:
                n += 1

    def _write_version(
        self, df: DataFrame, table: str, partition: bool = True,
    ) -> tuple[str, str]:
        """Materialize ``df`` into a freshly CLAIMED (exclusive) version dir
        without flipping the pointer; the caller commits under
        :meth:`_commit_lock`.  Writes with mode('append') into the empty
        claimed dir — mode('overwrite') would momentarily DELETE the dir,
        releasing the exclusivity the atomic-mkdir claim just bought.
        A failed build removes its claimed dir (no orphan v_N debris)."""
        version, out = self._claim_version(table)
        try:
            part_src = PARTITION_SOURCE.get(table)
            writer = df.write.mode("append")
            if partition and part_src is not None and part_src in df.columns:
                df = _with_parts(df, part_src, self._part_cols)
                # cluster rows by the partition dirs before the write:
                # without it every input task emits a file into every
                # p_year(/p_month) dir, so files ~= tasks x partitions —
                # the classic small-files write.  REBALANCE (AQE) both
                # coalesces small dirs to ~one advisory-sized file and
                # SPLITS an oversized year across tasks, where a plain
                # repartition would bottleneck a hot year on one task.
                df = df.hint("rebalance", *self._part_cols)
                writer = df.write.mode("append").partitionBy(*self._part_cols)
            writer.parquet(out)
        except Exception:
            shutil.rmtree(out, ignore_errors=True)
            raise
        return version, out

    def _commit_if_base(self, table: str, version: str, out: str,
                        base: str | None) -> bool:
        """Flip the pointer to ``version`` under the commit lock IF the
        pointer still names ``base`` (optimistic-concurrency check) and the
        built dir still exists; otherwise the built dir is discarded and
        False returned so the caller can rebuild from the winner's commit."""
        with self._commit_lock(table):
            # GC runs only under this lock, so these checks cannot race
            # another commit's cleanup.  The pointer-unmoved requirement
            # is deliberately stricter than isdir: a concurrent commit's
            # GC can rmtree our claimed dir MID-JOB and the job still
            # "succeed" with tasks recommitted into a recreated dir —
            # isdir passes but the version is silently partial.  Any
            # pointer movement during our build means our dir sat in a
            # GC window, so discard and rebuild.
            if self._current_version(table) != base or not os.path.isdir(out):
                shutil.rmtree(out, ignore_errors=True)
                return False
            self._flip_and_gc(table, version)
        return True

    def _commit(self, table: str, op: str, build, occ_retries: int) -> None:
        """The optimistic commit behind every mutator.

        ``build()`` reads the table, builds the next version into a claimed
        dir and returns ``(version, out)``.  The base version is captured
        before it runs, and the pointer flips only if it still names that
        base (:meth:`_commit_if_base`).  A concurrent commit in the window
        → the built dir is discarded and ``build`` re-runs against the
        winner's commit (up to ``occ_retries`` times), so a mutation never
        flips over a commit it did not build on.

        A build error is re-raised unless the pointer moved meanwhile: then
        it is conflict fallout (e.g. the winner's GC collected our base or
        claimed dir) and the build retries.  A ``ValueError`` is a
        deterministic user/validation error (e.g. merge_into's
        duplicate-source guard), never conflict fallout, and always
        surfaces."""
        last_exc: Exception | None = None
        for _attempt in range(1 + occ_retries):
            base = self._current_version(table)
            try:
                version, out = build()
            except Exception as exc:
                if isinstance(exc, ValueError) or self._current_version(table) == base:
                    raise
                # keep the exception so a PERSISTENT build failure that
                # keeps coinciding with pointer moves stays diagnosable
                last_exc = exc
                continue
            if self._commit_if_base(table, version, out, base):
                return
        raise RuntimeError(
            f"{op} lost the optimistic-commit race {1 + occ_retries} "
            f"times on table {table!r}"
        ) from last_exc

    def _layout(self, table: str):
        """Read ``table`` for a mutation: ``(cur, old_path, part_cols,
        rewrite)``.

        Partition depth follows the ON-DISK layout, not the constructor
        flag: a monthly table opened by a yearly-configured process must
        still merge at month depth (a flag-based depth would hard-link
        whole changed years as "untouched" and append a conflicting yearly
        layout — unreadable table).

        A partitioned table with data takes a selective build
        (:meth:`_write_selective`) and ``rewrite`` is None.  Otherwise
        ``rewrite(df)`` builds the full replacement, and only an EMPTY
        table gets (re-)partitioned by it: a table that HAS data but no
        partition dirs was deliberately written flat — preserve that rather
        than silently re-partitioning it."""
        cur = self.read(table)
        old_path = self.data_path(table)
        part_cols = [c for c in ("p_year", "p_month") if c in cur.columns]
        has_data = _has_parquet_files(old_path)
        if part_cols and has_data:
            return cur, old_path, part_cols, None
        return cur, old_path, part_cols, (
            lambda df: self._write_version(df, table, partition=not has_data)
        )

    def _write_selective(
        self, table: str, old_path: str, changed, part_cols: list[str],
        frames: list[DataFrame],
    ) -> tuple[str, str]:
        """Build a partition-selective version: hard-link every partition
        not in ``changed`` (:meth:`_begin_selective_version`) and append
        each of ``frames`` (carrying ``part_cols``) into its partitions.  A
        failed build removes its claimed dir — leaving it would orphan a
        v_N that survives until a later commit's GC and inflates
        subsequent claim numbering meanwhile."""
        version, out = self._begin_selective_version(
            table, old_path, changed, part_cols
        )
        try:
            for df in frames:
                df.write.mode("append").partitionBy(*part_cols).parquet(out)
        except Exception:
            shutil.rmtree(out, ignore_errors=True)
            raise
        return version, out

    def write(self, df: DataFrame, table: str, partition: bool = True,
              occ_retries: int = 5) -> None:
        """Atomically replace `table` with `df` (new version dir + pointer
        flip).  The version dir is claimed exclusively (atomic mkdir) and
        the flip happens under the commit lock, so a full replace can race
        concurrent merges without clobbering their claimed builds — the
        replace itself is intentionally last-writer-wins (it does not
        derive from the previous contents; replaces that DO derive from
        the table must use :meth:`replace_derived`).

        Build-vs-GC race (ADVICE r8): a concurrent merge commit GCs dirs
        strictly between ITS base and new pointer as unclaimed debris —
        a window this writer's live claimed dir can fall into.  That
        surfaces either as a parquet IO error mid-build or as a vanished
        dir at flip time; both legs detect the moved pointer / missing dir
        and re-claim + rebuild instead of surfacing a spurious error (the
        replace is LWW: the retry still flips last)."""
        self._commit(
            table, "write",
            lambda: self._write_version(df, table, partition),
            occ_retries,
        )

    def replace_derived(
        self, table: str, build_fn, partition: bool = True,
        occ_retries: int = 5,
    ) -> None:
        """Read-modify-REPLACE with optimistic concurrency: ``build_fn``
        maps the table's CURRENT contents to the full replacement frame,
        and the pointer flips only if the base version is unchanged — on
        conflict the commit re-reads, re-derives, and rebuilds, exactly
        like :meth:`merge_updates`.

        This is the correct commit for any replace whose output DERIVES
        from the table's own contents (e.g. the continuous-dedup clusters
        table, where ``update_clusters`` folds a batch's pairs into the
        stored assignments): a plain :meth:`write` is last-writer-wins by
        contract and would silently drop a concurrent applier's fold
        (ADVICE r8).  Non-derived replaces should keep using
        :meth:`write` — re-running ``build_fn`` must be safe and cheap
        (pin batch-derived inputs before calling)."""
        self._commit(
            table, "replace_derived",
            lambda: self._write_version(build_fn(self.read(table)), table, partition),
            occ_retries,
        )

    def merge_updates(
        self, table: str, updates: DataFrame, key: str = "pid",
        occ_retries: int = 5,
    ) -> None:
        """M2 at catalog scale: apply a batched point-update set rewriting
        ONLY the ``p_year`` partitions that contain updated keys.

        Untouched partitions are hard-linked (same inode, zero data copied
        or shuffled) into the new version dir; only changed partitions pass
        through the join+overwrite.  On a 100 TB date-partitioned catalog a
        stage merge touching one month rewrites that month, not the decade.
        State-column updates never move a row across partitions, so the
        partition-source column must not appear in ``updates``.

        CONCURRENCY (optimistic, :meth:`_commit`): the base version is
        captured at read time; the pointer flip happens under
        :meth:`_commit_lock` only if the pointer still names that base.  A
        concurrent commit in the window → this writer discards its built
        version dir and REBUILDS from the new current (up to
        ``occ_retries`` times), so concurrent merges of different keys
        serialize with neither update lost.

        Unpartitioned tables take a full (non-selective) rewrite but run the
        SAME optimistic protocol — base-checked flip under the commit lock,
        rebuild-on-conflict — so e.g. two concurrent dedupindex merges never
        lose each other's updates.
        """
        from eodatadown_spark.pipeline import apply_updates

        part_src = PARTITION_SOURCE.get(table)
        if part_src is not None and part_src in updates.columns:
            raise ValueError(
                f"merge_updates cannot change partition source {part_src!r}; "
                "use write() for partition-moving rewrites"
            )
        if any(c in updates.columns for c in ("p_year", "p_month")):
            # a patched physical partition column would silently break the
            # p_year/p_month == year/month(date_col) invariant pruning relies on
            raise ValueError("merge_updates cannot patch physical partition columns")

        def build():
            cur, old_path, part_cols, rewrite = self._layout(table)
            if rewrite is not None:
                return rewrite(apply_updates(self.read_clean(table), updates, key))
            changed = (
                cur.join(updates.select(key).distinct(), key, "left_semi")
                .select(*part_cols)
                .distinct()
                .collect()
            )
            frames = [
                apply_updates(
                    cur.where(_partition_match_cond(changed, part_cols)),
                    updates, key,
                )
            ] if changed else []
            return self._write_selective(table, old_path, changed, part_cols, frames)

        self._commit(table, "merge_updates", build, occ_retries)

    def _begin_selective_version(
        self, table: str, old_path: str, changed, part_cols: list[str]
    ) -> tuple[str, str]:
        """Start a partition-selective version: create the version dir and
        hard-link every LEAF partition dir NOT in ``changed`` (same inodes,
        no data movement; depth-generic over yearly / year-month layouts).
        Returns (version, out_dir); the caller appends changed-partition
        rewrites and flips the pointer last."""
        changed_rel = {_partition_rel_dir(r, part_cols) for r in changed}
        version, out = self._claim_version(table)
        try:
            for dirpath, _dirs, files in os.walk(old_path):
                relp = os.path.relpath(dirpath, old_path)
                if relp == "." or not relp.startswith("p_"):
                    continue
                if not any(f.endswith(".parquet") for f in files):
                    continue  # intermediate level
                if relp.replace(os.sep, "/") in changed_rel:
                    continue
                dst = os.path.join(out, relp)
                os.makedirs(dst, exist_ok=True)
                for fname in files:
                    os.link(os.path.join(dirpath, fname), os.path.join(dst, fname))
        except Exception:
            # a failed link phase must not orphan the claimed dir
            shutil.rmtree(out, ignore_errors=True)
            raise
        return version, out

    def merge_into(
        self,
        table: str,
        source: DataFrame,
        on: list[str],
        when_matched_update=None,
        when_matched_delete=None,
        when_not_matched_insert: bool = True,
        occ_retries: int = 5,
    ) -> None:
        """Transactional MERGE INTO the catalog table — the Delta/Iceberg
        MERGE operation on the versioned-parquet layout, partition-selective.

        Two clause forms, with operators.merge.merge_into's semantics
        (``t``/``s`` aliases, ANSI duplicate-source guard):

        - upsert: ``when_matched_update`` (column → Column mapping) plus
          insert-all of the unmatched source rows;
        - delete: ``when_matched_delete`` (a Column condition) with
          ``when_not_matched_insert=False``.

        Physically:

        - partitions holding MATCHED keys pass through the merge join and
          are rewritten (skipped entirely when no matched clause is given);
        - every other partition hard-links into the new version (same
          inodes, zero data moved);
        - not-matched source rows append as new files into their derived
          partitions — including brand-new ones.

        Same crash posture as every write: version dir builds fully, pointer
        flips last.  Updating the partition-source date column is rejected
        (a partition-moving update needs a full write()).

        CONCURRENCY: same optimistic protocol as :meth:`merge_updates` —
        the merged frame derives from the base version, so the pointer flip
        is base-checked under the commit lock and a lost race rebuilds from
        the winner's commit (up to ``occ_retries`` times).

        Insert-all takes the source's same-named columns, cast to the
        table's types (table columns the source lacks insert as NULL).  A
        source column the table lacks is rejected loudly — silently
        dropping it would be data loss — except ``__``-prefixed ones, the
        codebase-wide convention for ephemeral bookkeeping (e.g. a CDC
        ``__op`` marker), which are never inserted.
        """
        from eodatadown_spark.operators.merge import merge_into as _merge_df

        part_src = PARTITION_SOURCE.get(table)
        if when_matched_update:
            forbidden = {part_src, "p_year", "p_month"} & set(when_matched_update)
            if forbidden:
                raise ValueError(
                    f"merge_into cannot update partition-source columns {sorted(forbidden)}; "
                    "use write() for partition-moving rewrites"
                )

        def build():
            cur, old_path, part_cols, rewrite = self._layout(table)
            # validate BEFORE any filesystem work: an abort below this point
            # would leave a fully-built orphan version dir
            extras = [
                c for c in source.columns
                if c not in cur.columns and not c.startswith("__")
            ]
            if when_not_matched_insert and extras:
                raise ValueError(
                    f"merge_into insert-all: source columns {extras} not in "
                    f"table {table!r} (silent dropping would be data loss)"
                )
            if rewrite is not None:
                return rewrite(_merge_df(
                    self.read_clean(table), source, on,
                    when_matched_update=when_matched_update,
                    when_matched_delete=when_matched_delete,
                    when_not_matched_insert=when_not_matched_insert,
                ))
            target_cols = [c for c in cur.columns if c not in part_cols]
            if when_not_matched_insert and (part_src is None or part_src not in target_cols):
                raise ValueError(
                    f"cannot derive partitions for inserts: {table!r} has no "
                    "partition-source column; use an unpartitioned table"
                )
            cur_keys = cur.select(*on).distinct()
            # split ONCE: matched source drives the partition rewrite,
            # unmatched source appends — merging only the
            # changed-partition subset would otherwise misclassify
            # out-of-subset matches as inserts
            matched_src = source.join(cur_keys, on, "left_semi")
            insert_src = source.join(cur_keys, on, "left_anti")

            if bool(when_matched_update) or when_matched_delete is not None:
                changed = (
                    cur.join(matched_src.select(*on).distinct(), on, "left_semi")
                    .select(*part_cols)
                    .distinct()
                    .collect()
                )
            else:
                changed = []
                # the matched-partition merge (which carries the
                # distributed ANSI guard) is skipped entirely, so check
                # here that no target key matches two source rows
                dup = (
                    matched_src.groupBy(*on)
                    .count()
                    .where(F.col("count") > 1)
                    .limit(1)
                    .collect()
                )
                if dup:
                    raise ValueError(
                        "merge_into: multiple source rows matched target key "
                        f"({', '.join(str(dup[0][k]) for k in on)})"
                    )

            frames = []
            if changed:
                target_sub = cur.where(
                    _partition_match_cond(changed, part_cols)
                ).select(*target_cols)
                merged = _merge_df(
                    target_sub, matched_src, on,
                    when_matched_update=when_matched_update,
                    when_matched_delete=when_matched_delete,
                    when_not_matched_insert=False,
                )
                frames.append(_with_parts(merged, part_src, part_cols))

            if when_not_matched_insert:
                ins = insert_src.select(*[
                    (F.col(c) if c in source.columns else F.lit(None))
                    .cast(cur.schema[c].dataType).alias(c)
                    for c in target_cols
                ])
                frames.append(_with_parts(ins, part_src, part_cols))
            return self._write_selective(table, old_path, changed, part_cols, frames)

        self._commit(table, "merge_into", build, occ_retries)

    def append(self, table: str, rows: DataFrame, occ_retries: int = 5) -> None:
        """Append-only fast path: hard-link EVERY existing partition into a
        new version and add the new rows as extra files in their derived
        partitions — no join, no rewrite, no shuffle of existing data.

        The right ingest shape when keys are known-new (e.g. downstream of
        an anti-join the caller already ran, or an event log); use
        ``merge_into`` when dedup/upsert semantics are needed — append does
        NOT check for key collisions.  Same pointer-flip-last crash posture
        as every write, and the same optimistic-commit protocol as
        :meth:`merge_updates`: the new version hard-links the BASE version's
        files, so flipping over a concurrently-moved pointer would silently
        drop that commit — instead the loser re-links from the winner.

        Incoming columns the table lacks are REJECTED loudly: silently
        dropping them would be data loss wearing a success exit code.
        """

        def build():
            cur, old_path, part_cols, rewrite = self._layout(table)
            extras = [c for c in rows.columns if c not in cur.columns]
            if extras:
                raise ValueError(
                    f"append: incoming columns {extras} not in table "
                    f"{table!r} (silent dropping would be data loss)"
                )
            target_cols = [c for c in cur.columns if c not in part_cols]
            # cast incoming rows to the table schema up front (as the
            # merge_into insert path does) — appending rows with their
            # incoming dtypes would otherwise put mixed-schema parquet files
            # (int32 next to int64) inside one partition, failing or
            # coercing on later reads
            new = rows.select(
                *[F.col(c).cast(cur.schema[c].dataType).alias(c)
                  for c in target_cols],
            )
            if rewrite is not None:
                return rewrite(self.read_clean(table).unionByName(new))
            part_src = PARTITION_SOURCE.get(table)
            if part_src is None:
                raise ValueError(
                    f"cannot derive partitions for appended rows: {table!r} has "
                    "no partition-source column"
                )
            return self._write_selective(
                table, old_path, [], part_cols,
                [_with_parts(new, part_src, part_cols)],
            )

        self._commit(table, "append", build, occ_retries)

    def read_clean(self, table: str) -> DataFrame:
        """Read without the physical partition column(s)."""
        return self.read(table).drop("p_year", "p_month")

    # -- time travel (within the retention window) --------------------------
    def list_versions(self, table: str) -> list[int]:
        """Version numbers readable for time travel, ascending: on-disk
        versions AT OR BELOW the current pointer.  Only the newest
        ``retain_versions`` survive writes, so this is the travel horizon;
        a v_N directory ABOVE the pointer is a partially-written version
        from a crashed write (the pointer flips last) and is excluded — time
        travel must never serve a partial snapshot."""
        current = self._current_version(table)
        ceiling = int(current.split("_")[1]) if current else -1
        return [v for v in self._versions_on_disk(table) if v <= ceiling]

    def _versions_on_disk(self, table: str) -> list[int]:
        """All v_<n> DIRECTORIES present, ascending (single definition used
        by list_versions, fsck and GC so their notion of 'a version' can't
        drift — a stray v_N file is never a version)."""
        table_dir = self._table_dir(table)
        if not os.path.isdir(table_dir):
            return []
        return sorted(
            int(d.split("_")[1])
            for d in os.listdir(table_dir)
            if d.startswith("v_") and d.split("_")[1].isdigit()
            and os.path.isdir(os.path.join(table_dir, d))
        )

    def read_version(self, table: str, version: int) -> DataFrame:
        """Time travel: read a retained historical version (the minimal
        analog of table-format VERSION AS OF).  Raises if the version was
        garbage-collected or sits above the current pointer (a crashed
        write's partial dir) — raise ``retain_versions`` to keep more
        history.  Hard-linked leaves from selective merges share inodes
        across versions, so history costs only the rewritten partitions."""
        if version not in self.list_versions(table):
            raise FileNotFoundError(
                f"version {version} of {table!r} not readable "
                f"(retained: {self.list_versions(table)})"
            )
        return self._read_path(
            table, os.path.join(self._table_dir(table), f"v_{version}")
        )

    def fsck(self, table: str) -> dict:
        """Catalog health report for `table`: pointer validity, orphan
        version dirs (above the pointer — crashed writes), GC candidates
        (below the retention window, normally impossible), and hard-link
        sharing between retained versions (how much history is free).

        Read-only; the returned dict is the input to an operator's cleanup
        decision (delete orphans, raise retention), never auto-acted on.
        """
        table_dir = self._table_dir(table)
        current = self._current_version(table)
        on_disk = self._versions_on_disk(table)
        readable = self.list_versions(table)
        orphans = [v for v in on_disk if v not in readable]

        def inodes(version: int) -> set[int]:
            out = set()
            for dirpath, _dirs, files in os.walk(
                os.path.join(table_dir, f"v_{version}")
            ):
                for fname in files:
                    if fname.endswith(".parquet"):
                        out.add(os.stat(os.path.join(dirpath, fname)).st_ino)
            return out

        shared = 0
        if len(readable) >= 2:
            newest, prev = inodes(readable[-1]), inodes(readable[-2])
            shared = len(newest & prev)
        return {
            "table": table,
            "pointer": current,
            "pointer_valid": current is not None
            and os.path.isdir(os.path.join(table_dir, current)),
            "versions_on_disk": on_disk,
            "readable_versions": readable,
            "orphan_versions": orphans,
            "shared_inodes_newest_prev": shared,
        }

    # -- JSON import/export (S6 / K1; ref eodatadownlandsatgoogsensor.py:2527-2687)
    def export_json(
        self, table: str, out_file: str, max_driver_rows: int = 100_000
    ) -> None:
        """Serialize a table to JSON, matching the reference's
        `export_db_to_json` dict shape for admin-sized catalogs.

        Tables above ``max_driver_rows`` never touch the driver: they stream
        out as a DIRECTORY of gzip JSONL part files written by the executors
        (`df.write.json`) — the scale path for 100 TB catalogs, where a
        single driver-side dict is a guaranteed OOM.  ``import_json`` accepts
        both shapes.
        """
        df = self.read_clean(table)
        # bounded existence probe — counts at most max_driver_rows+1 rows
        big = df.limit(max_driver_rows + 1).count() > max_driver_rows
        if big:
            (
                df.write.mode("overwrite")
                .option("compression", "gzip")
                .json(out_file)
            )
            return
        rows = [row.asDict(recursive=True) for row in df.collect()]
        # key by the unique pid as the reference does; composite-key tables
        # (plugin_results, obs_dates...) fall back to a running index so no
        # row is silently overwritten
        if "pid" in df.columns:
            payload = {str(row["pid"]): row for row in rows}
        else:
            payload = {str(i): row for i, row in enumerate(rows)}
        with open(out_file, "w", encoding="utf-8") as fh:
            json.dump(payload, fh, default=str)

    def import_json(
        self,
        table: str,
        in_file: str,
        replace_path_dict: dict[str, str] | None = None,
        path_cols: tuple[str, ...] = ("download_path", "ardproduct_path"),
    ) -> None:
        """Load an exported JSON dict-of-rows (or a JSONL part directory from
        the large-table export path) back into `table`, optionally rewriting
        path prefixes (ref `import_sensor_db`,
        eodatadownlandsatgoogsensor.py:2605-2687)."""
        schema = schemas.ALL_SCHEMAS.get(table)
        if os.path.isdir(in_file):
            # distributed JSONL export: read executor-side, all-string staging
            # schema so the declared-schema casts below apply uniformly
            df = self.spark.read.schema(_as_string_schema(schema)).json(in_file)
        else:
            with open(in_file, encoding="utf-8") as fh:
                payload = json.load(fh)
            rows = list(payload.values())
            # export serialized dates/timestamps with default=str → parse back
            # per the declared schema (C1 multi-format semantics in the cast).
            df = self.spark.createDataFrame(
                [json.dumps(r) for r in rows], "string"
            ).select(F.from_json("value", _as_string_schema(schema)).alias("r")).select("r.*")
        for field in schema.fields:
            df = df.withColumn(field.name, F.col(field.name).cast(field.dataType))
        if replace_path_dict:
            from eodatadown_spark.functions.paths import rewrite_path_prefixes

            for col in path_cols:
                if col in df.columns:
                    df = df.withColumn(col, rewrite_path_prefixes(col, replace_path_dict))
        self.write(df, table)
