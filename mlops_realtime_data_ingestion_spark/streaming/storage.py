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

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession

__all__ = ["ParquetManifestBackend"]


class ParquetManifestBackend:
    """Plain parquet + ``_manifests/`` JSON commit log. Manifests live
    INSIDE the table root: Spark/Hadoop scans skip underscore-prefixed
    paths, so the log is invisible to readers that don't ask for it.
    All paths are table roots or absolute file/dir paths inside them."""

    def _manifest_dir(self, path: str) -> str:
        return os.path.join(path, "_manifests")

    def append(self, table: pa.Table, path: str, partition_by: tuple[str, ...]) -> list[str]:
        """Write ``table`` into the table at ``path`` on the driver: one
        pyarrow parquet file per distinct ``partition_by`` value, in
        that value's hive directory and without the partition columns.
        Each file is written under a dot-prefixed temp name (readers
        and :meth:`list_data_files` skip it) and renamed into place
        with ``os.replace``, so a reader sees a whole file or none.
        Names are UUID-unique, so concurrent writers never collide.
        Driver-sized by design: the feature store holds one row per
        minute key, about 525k rows for a year of backfill. Returns the
        relative paths of exactly the files THIS write added (a
        before/after directory diff would attribute a concurrent
        writer's files to this commit)."""
        cols = list(partition_by)
        rows_of = (
            table.select(cols)
            .append_column("_row", pa.array(np.arange(table.num_rows)))
            .group_by(cols, use_threads=False)
            .aggregate([("_row", "list")])
        )
        data = table.drop_columns(cols)
        added: list[str] = []
        for group in rows_of.to_pylist():
            part_dir = os.path.join(*(f"{c}={group[c]}" for c in cols))
            name = f"part-{uuid.uuid4().hex}.parquet"
            os.makedirs(os.path.join(path, part_dir), exist_ok=True)
            tmp = os.path.join(path, part_dir, f".{name}.tmp")
            try:
                pq.write_table(data.take(group["_row_list"]), tmp)
                os.replace(tmp, os.path.join(path, part_dir, name))
            finally:
                if os.path.exists(tmp):
                    os.remove(tmp)  # a failed write leaves no partial file
            added.append(os.path.join(part_dir, name))
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
            int(n[1:-5])
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
