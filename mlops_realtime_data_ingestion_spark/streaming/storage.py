"""Durable storage for the feature store.

Everything :class:`~.feature_store.FeatureStore` does to DURABLE
storage goes through :class:`ParquetManifestBackend`: appending data
files, committing a version to the log, listing/reading files as of a
version, the table lock, and the atomic directory swaps that
compaction/upsert use. It implements them on plain parquet plus a JSON
manifest log (the only table format available in this environment).

A Delta or Iceberg deployment REPLACES this class rather than plugging
in behind an interface: ``append`` becomes the format's transactional
write (the manifest commit collapses into it — those formats ARE their
commit log), ``files_as_of`` becomes ``VERSION AS OF``, the table lock
disappears into the format's optimistic commit, and the swap
primitives become MERGE / replaceWhere metadata commits instead of
directory renames. The reference's analogous layer is SageMaker's
offline-store S3 layout (lib/sagemaker/feature-store.ts:186-193).
"""

from __future__ import annotations

import contextlib
import json
import os
import shutil
import time
import uuid

from pyspark.sql import DataFrame, SparkSession

__all__ = ["ParquetManifestBackend"]


class ParquetManifestBackend:
    """Plain parquet + ``_manifests/`` JSON commit log. Manifests live
    INSIDE the table root: Spark/Hadoop scans skip underscore-prefixed
    paths, so the log is invisible to readers that don't ask for it.
    All paths are table roots or absolute file/dir paths inside them."""

    def _manifest_dir(self, path: str) -> str:
        return os.path.join(path, "_manifests")

    def append(self, df: DataFrame, path: str, partition_by: tuple[str, ...] = ()) -> list[str]:
        """Stage-then-move append: the write lands in a private staging
        dir and its part files (task-UUID-unique names, no collision
        risk) are moved into the table.  The returned 'added' list is
        exactly the files THIS writer moved — a plain before/after
        directory diff would attribute a concurrent writer's files to
        this commit and double-count them across manifests.  Returns
        the relative paths of the files added by THIS write."""
        stage = path.rstrip("/") + f".__stage-{uuid.uuid4().hex}"
        writer = df.write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(stage)
        added: list[str] = []
        try:
            for root, dirs, files in os.walk(stage):
                dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
                for f in files:
                    if not f.endswith(".parquet"):
                        continue
                    src = os.path.join(root, f)
                    rel = os.path.relpath(src, stage)
                    dst = os.path.join(path, rel)
                    os.makedirs(os.path.dirname(dst), exist_ok=True)
                    os.replace(src, dst)
                    added.append(rel)
        finally:
            shutil.rmtree(stage, ignore_errors=True)
        return sorted(added)

    def read(self, spark: SparkSession, path: str, files: list[str] | None = None) -> DataFrame:
        """Read the table (or, when ``files`` is given, exactly those
        relative data files with the table root as basePath)."""
        if files is None:
            return spark.read.parquet(path)
        return spark.read.option("basePath", path).parquet(
            *(os.path.join(path, p) for p in files)
        )

    def commit_version(self, path: str, added: list[str]) -> int:
        """Optimistic-concurrency commit (the Delta/Iceberg protocol on
        a filesystem): compute next = max(versions) + 1, then publish
        manifest-next via CREATE-IF-ABSENT — ``os.link`` fails with
        EEXIST instead of overwriting, unlike ``os.replace`` — and on
        losing the race re-read the log and retry with the next number.
        Two concurrent writers therefore get consecutive versions and
        both commits survive; the loop is bounded by the number of
        concurrent committers."""
        mdir = self._manifest_dir(path)
        os.makedirs(mdir, exist_ok=True)
        tmp = os.path.join(mdir, f".commit-{uuid.uuid4().hex}.json.tmp")
        try:
            while True:
                have = self.versions(path)
                v = (max(have) + 1) if have else 0
                with open(tmp, "w") as f:
                    json.dump({"version": v, "added": added}, f)
                try:
                    os.link(tmp, os.path.join(mdir, f"v{v:06d}.json"))
                    return v
                except FileExistsError:
                    continue  # lost the CAS: re-read the log, retry
        finally:
            if os.path.exists(tmp):
                os.remove(tmp)

    def versions(self, path: str) -> list[int]:
        """Committed versions, oldest first."""
        mdir = self._manifest_dir(path)
        if not os.path.isdir(mdir):
            return []
        return sorted(
            int(n[1:7])
            for n in os.listdir(mdir)
            if n.startswith("v") and n.endswith(".json")
        )

    def files_as_of(self, path: str, version: int) -> list[str]:
        """Relative data files making up the table as of ``version``."""
        files: list[str] = []
        for v in self.versions(path):
            if v > version:
                break
            with open(os.path.join(self._manifest_dir(path), f"v{v:06d}.json")) as f:
                files.extend(json.load(f)["added"])
        return files

    def list_data_files(self, path: str) -> set[str]:
        """A local directory walk here; the write-committer's file
        list on an object store."""
        out: set[str] = set()
        for root, dirs, files in os.walk(path):
            dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
            for f in files:
                if f.endswith(".parquet"):
                    out.add(os.path.relpath(os.path.join(root, f), path))
        return out

    def exists(self, path: str) -> bool:
        """True if the table has any data."""
        return os.path.isdir(path) and any(
            n.endswith(".parquet") or n.startswith(("year=", "part-"))
            for n in os.listdir(path)
        )

    def swap_directory(self, tmp: str, live: str) -> None:
        """Replace directory ``live`` with ``tmp`` by two renames
        (readers see old or new, never a mix beyond one rename)."""
        old = live.rstrip("/") + f".__old-{uuid.uuid4().hex}"
        if os.path.isdir(live):
            os.rename(live, old)
        os.makedirs(os.path.dirname(live), exist_ok=True)
        os.rename(tmp, live)
        shutil.rmtree(old, ignore_errors=True)

    @contextlib.contextmanager
    def exclusive(self, path: str, timeout_s: float = 60.0):
        """Filesystem mutex via atomic ``mkdir`` (create-if-absent):
        serializes read-merge-swap writers on the same table.  A crash
        inside the critical section leaves the lock dir behind; the
        timeout raises rather than deadlocking, and the error names
        the stale dir to remove.  On a transactional table format this
        whole primitive disappears into the format's optimistic commit,
        which detects write conflicts and retries the MERGE."""
        lock = path.rstrip("/") + ".__lock"
        os.makedirs(os.path.dirname(lock) or ".", exist_ok=True)
        deadline = time.monotonic() + timeout_s
        while True:
            try:
                os.mkdir(lock)
                break
            except FileExistsError:
                if time.monotonic() >= deadline:
                    raise TimeoutError(
                        f"could not acquire table lock {lock} within "
                        f"{timeout_s}s; remove it if a writer crashed"
                    )
                time.sleep(0.05)
        try:
            yield
        finally:
            os.rmdir(lock)

    def vacuum(self, path: str, keep_versions: int = 10) -> dict:
        """Table maintenance (the Delta VACUUM + checkpoint analogue):
        delete ORPHAN data files (on disk but never committed — failed
        or abandoned writes), and CHECKPOINT the commit log so only the
        last ``keep_versions`` versions remain time-travelable (older
        manifests squash into one cumulative checkpoint; the content of
        every retained version is unchanged).  Returns
        ``{"orphans_removed": [...], "manifests_squashed": n}``.

        A driver-side METADATA operation: both the orphan diff and
        the log squash touch file LISTS (bounded by file count), never
        file contents — on an object store this is one LIST plus
        manifest rewrites.  A production deployment adds an age guard
        (only delete orphans older than the write-timeout horizon) so
        in-flight writes are never swept; this environment's writes
        are synchronous, so the guard is omitted."""
        vs = self.versions(path)
        if not vs:
            # no commit log => nothing is provably orphaned; deleting
            # here would sweep a table that simply never used versioning
            return {"orphans_removed": [], "manifests_squashed": 0}
        referenced = set(self.files_as_of(path, vs[-1]))
        orphans = sorted(self.list_data_files(path) - referenced)
        for rel in orphans:
            os.remove(os.path.join(path, rel))
            # prune now-empty hive partition dirs
            d = os.path.dirname(os.path.join(path, rel))
            while d != path.rstrip("/") and os.path.isdir(d) and not os.listdir(d):
                os.rmdir(d)
                d = os.path.dirname(d)

        squashed = 0
        if len(vs) > keep_versions:
            cut = vs[-keep_versions]  # oldest retained version
            expired = [v for v in vs if v < cut]
            # checkpoint: the oldest RETAINED manifest becomes
            # cumulative, so files_as_of(v) is unchanged for every
            # retained v after the expired manifests are dropped
            mdir = self._manifest_dir(path)
            cut_file = os.path.join(mdir, f"v{cut:06d}.json")
            cumulative = self.files_as_of(path, cut)
            tmp = cut_file + ".tmp"
            with open(tmp, "w") as f:
                json.dump({"version": cut, "added": cumulative, "checkpoint": True}, f)
            os.replace(tmp, cut_file)
            for v in expired:
                os.remove(os.path.join(mdir, f"v{v:06d}.json"))
            squashed = len(expired)
        return {"orphans_removed": orphans, "manifests_squashed": squashed}
