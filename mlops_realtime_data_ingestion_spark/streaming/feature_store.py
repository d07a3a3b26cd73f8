"""Feature store on parquet (SURVEY.md §2.1 S9/S10, §7 step 5).

The reference's SageMaker Feature Store is a keyed record store with
two faces (lib/sagemaker/feature-store.ts:186-193):
- offline: append-only parquet history on S3 (every put is a new
  versioned row), hive-partitioned year/month/day/hour;
- online: latest value per record key (``record_identifier =
  tx_minute``, versioned by ``event_time`` — agg-fg-schema.json:31-32).

This module keeps exactly that layout on plain parquet:
``put_batch`` APPENDS (atomic at file granularity — no read-modify-
write race, unlike the Glue job's non-atomic prefix swap at
FeatureStoreAggregateParquet.py:94-110), and the online view derives
latest-per-key with a window function. On a Delta/Iceberg-backed
deployment ``put_batch`` becomes ``MERGE INTO`` and ``online_view``
a materialized latest snapshot; the API here is the contract.

Scale: appends are partitioned writes (no global coordination);
the online view is one shuffle on the key. Re-delivered batches are
harmless — the same (key, event_time) row wins deterministically
(T5: at-least-once + idempotent upsert, delivery_stream_to_
featurestore/main.py:54-63).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .storage import ParquetManifestBackend, StorageBackend

__all__ = ["FeatureStore"]


class FeatureStore:
    """All durable-storage calls go through ``backend``
    (:class:`~.storage.StorageBackend`) — plug a Delta/Iceberg backend
    in there when the package exists; the parquet+manifest default is
    the tested configuration in this environment."""

    def __init__(
        self,
        path: str,
        key_col: str = "tx_minute",
        event_time_col: str = "event_time",
        partition_by_time: bool = True,
        backend: StorageBackend | None = None,
    ) -> None:
        self.path = path
        self.key_col = key_col
        self.event_time_col = event_time_col
        self.partition_by_time = partition_by_time
        self.backend = backend or ParquetManifestBackend()

    # -- S9: streaming upsert sink ------------------------------------
    def put_batch(self, batch: DataFrame) -> None:
        """Append a batch of records (offline history). Stamps
        ``event_time`` if absent (reference stamps now() at the sink,
        delivery_stream_to_featurestore/main.py:60); dedups identical
        (key, event_time) pairs within the batch so re-processing is
        idempotent. Each put commits a versioned manifest (the added
        file list) enabling :meth:`offline` time travel — the
        commit-log shape a Delta/Iceberg table gets from its format
        (on those backends this is the transaction log itself).

        Callers pass non-empty batches: each call commits exactly one
        version, so on a fresh store the n-th put is version n. The
        streaming sink counts its cached batch first and skips empty
        ones."""
        cols = batch.columns
        if self.event_time_col not in cols:
            batch = batch.withColumn(
                self.event_time_col,
                F.unix_timestamp(F.current_timestamp()).cast("double"),
            )
        batch = batch.dropDuplicates([self.key_col, self.event_time_col])
        pcols: tuple[str, ...] = ()
        if self.partition_by_time:
            # reference partitions the offline store year/month/day/hour
            # (FeatureStoreAggregateParquet.py:40-58)
            batch = (
                batch.withColumn("year", F.year(self.key_col))
                .withColumn("month", F.month(self.key_col))
                .withColumn("day", F.dayofmonth(self.key_col))
                .withColumn("hour", F.hour(self.key_col))
            )
            pcols = self._PCOLS
        added = self.backend.append(batch, self.path, pcols)
        self.backend.commit_version(self.path, added)

    def versions(self) -> list[int]:
        """Committed batch versions, oldest first."""
        return self.backend.versions(self.path)

    def vacuum(self, keep_versions: int = 10) -> dict:
        """Table maintenance: drop orphan data files (written but never
        committed — crashed writers) and checkpoint the commit log to
        the last ``keep_versions`` versions.  Retained versions'
        time-travel reads are byte-identical before and after (tested);
        older versions stop being addressable — the same contract as
        Delta ``VACUUM`` + log checkpointing."""
        return self.backend.vacuum(self.path, keep_versions=keep_versions)

    # -- offline face ---------------------------------------------------
    def offline(self, spark: SparkSession, version: int | None = None) -> DataFrame:
        """Full append-only history (S11 scan target).

        ``version=N`` time-travels to the store as of batch N (files
        committed by manifests 0..N) — ``SELECT ... VERSION AS OF N``
        on a Delta/Iceberg backend. Current-state reads never consult
        the log (plain directory scan, no small-file listing cost)."""
        if version is None:
            return self.backend.read(spark, self.path)
        if version not in self.versions():
            raise ValueError(
                f"unknown version {version}; have {self.versions()}"
            )
        files = self.backend.files_as_of(self.path, version)
        if not files:
            raise ValueError(f"version {version} committed no files")
        return self.backend.read(spark, self.path, files)

    def exists(self) -> bool:
        return self.backend.exists(self.path)

    # -- online face ------------------------------------------------
    def online_view(self, spark: SparkSession) -> DataFrame:
        """Latest record per key (the online store's get_record
        semantics; last event_time wins, ties broken deterministically
        by taking the max over remaining columns is avoided — ties on
        (key, event_time) are already deduped at put)."""
        df = self.offline(spark)
        w = Window.partitionBy(self.key_col).orderBy(
            F.col(self.event_time_col).desc()
        )
        return (
            df.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
        )

    def as_of(self, spark: SparkSession, event_time_cutoff: float) -> DataFrame:
        """Point-in-time view: latest record per key with event_time <=
        cutoff — the offline store's time-travel / point-in-time-correct
        join input (SageMaker offline stores are queried this way to
        avoid feature leakage; here it is one filter + the same
        latest-per-key window)."""
        df = self.offline(spark).filter(
            F.col(self.event_time_col) <= F.lit(event_time_cutoff)
        )
        w = Window.partitionBy(self.key_col).orderBy(
            F.col(self.event_time_col).desc()
        )
        return (
            df.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
        )

    def get_record(self, spark: SparkSession, key_value) -> list:
        """S10: online point-read (read_feature_store.ipynb cell 6)."""
        return (
            self.online_view(spark)
            .filter(F.col(self.key_col) == F.lit(key_value))
            .collect()
        )

    # -- S12: compaction ---------------------------------------------
    _PCOLS = ("year", "month", "day", "hour")

    def _partition_sizes(self) -> dict[tuple, int]:
        """On-disk parquet bytes per hive partition — a metadata
        listing, bounded by partition count (the reference's prefix
        walk, FeatureStoreAggregateParquet.py:40-58)."""
        sizes: dict[tuple, int] = {}
        for root, _, files in os.walk(self.path):
            b = sum(
                os.path.getsize(os.path.join(root, f))
                for f in files
                if f.endswith(".parquet")
            )
            if b:
                rel = os.path.relpath(root, self.path)
                key = tuple(
                    int(seg.split("=", 1)[1])
                    for seg in rel.split(os.sep)
                    if "=" in seg
                )
                sizes[key] = sizes.get(key, 0) + b
        return sizes

    def compact(
        self, spark: SparkSession, target_bytes: int = 512 * 1024 * 1024
    ) -> None:
        """Rewrite the store into ~target-size files (the Glue hourly
        compaction, FeatureStoreAggregateParquet.py:79-111), KEEPING
        the year/month/day/hour hive layout: each partition directory
        independently becomes ceil(partition_bytes/target) files, all
        partitions rewritten by ONE distributed job (hash-repartition
        on the partition columns plus a per-partition salt — never a
        whole-store coalesce, which would cap upstream read
        parallelism at the output file count). Unlike the reference's
        copy-then-delete prefix swap (non-atomic, :94-110), the
        rewrite goes to a temp dir and is swapped with two renames —
        readers can see a partial store only during a single rename,
        and the history is never mutated in place."""
        df = self.offline(spark)
        tmp = self.path.rstrip("/") + ".__compact_tmp"
        sizes = self._partition_sizes()
        partitioned = self.partition_by_time and any(
            len(k) == len(self._PCOLS) for k in sizes
        )
        if partitioned:
            n_map = [
                (*key, int(max(1, -(-b // target_bytes))))
                for key, b in sizes.items()
            ]
            nmap_df = spark.createDataFrame(
                n_map, "year int, month int, day int, hour int, _nf int"
            )
            (
                df.join(F.broadcast(nmap_df), list(self._PCOLS), "left")
                .withColumn(
                    "_salt",
                    F.pmod(F.hash(self.key_col), F.coalesce("_nf", F.lit(1))),
                )
                .repartition(*self._PCOLS, "_salt")
                .drop("_nf", "_salt")
                .write.partitionBy(*self._PCOLS)
                .mode("overwrite")
                .parquet(tmp)
            )
        else:
            total = sum(sizes.values())
            n_files = int(max(1, -(-total // target_bytes)))  # ceil (A9)
            df.repartition(n_files).write.mode("overwrite").parquet(tmp)
        self.backend.swap_directory(tmp, self.path)
        # compaction rewrites history: the commit log restarts at a
        # single full snapshot (the VACUUM/checkpoint analogue —
        # pre-compaction versions are no longer addressable)
        self.backend.commit_version(
            self.path, sorted(self.backend.list_data_files(self.path))
        )

    # -- MERGE-shaped online materialization --------------------------
    @property
    def latest_path(self) -> str:
        return self.path.rstrip("/") + "_latest"

    def latest(self, spark: SparkSession) -> DataFrame:
        """The materialized online table (one row per key) maintained
        by :meth:`upsert_latest` — same rows as :meth:`online_view`,
        but a TABLE (point-reads scan one partition, not the history)."""
        return self.backend.read(spark, self.latest_path)

    def upsert_latest(self, spark: SparkSession, batch: DataFrame) -> list[str]:
        """True upsert semantics for the online face: MERGE the batch
        into a latest-per-key table, rewriting ONLY the key-partitions
        the batch touches (copy-on-write at partition granularity).
        On a Delta/Iceberg deployment this is literally

            MERGE INTO latest USING batch ON latest.key = batch.key
            WHEN MATCHED AND batch.event_time >= latest.event_time
                THEN UPDATE SET *
            WHEN NOT MATCHED THEN INSERT *

        with partition pruning on the target (feature-store.ts:186-193
        maps the feature group here; SURVEY.md §1.1). Returns the list
        of rewritten partition directories. Re-applying the same batch
        is a no-op on values (idempotent, T5)."""
        import shutil

        if self.event_time_col not in batch.columns:
            batch = batch.withColumn(
                self.event_time_col,
                F.unix_timestamp(F.current_timestamp()).cast("double"),
            )
        # batch-local latest per key; ties beyond event_time are
        # already deduped at source (same contract as put_batch)
        w = Window.partitionBy(self.key_col).orderBy(
            F.col(self.event_time_col).desc()
        )
        batch = (
            batch.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
        )
        if not self.partition_by_time:
            return self._upsert_whole(spark, batch)

        batch = (
            batch.withColumn("year", F.year(self.key_col))
            .withColumn("month", F.month(self.key_col))
            .withColumn("day", F.dayofmonth(self.key_col))
            .withColumn("hour", F.hour(self.key_col))
        )
        # driver holds one tuple per TOUCHED partition — bounded by the
        # batch's key spread, not the table (the MERGE pruning set)
        touched = sorted(
            tuple(r[c] for c in self._PCOLS)
            for r in batch.select(*self._PCOLS).distinct().collect()
        )
        lp = self.latest_path
        live_dirs = {
            key: os.path.join(
                lp, *(f"{c}={v}" for c, v in zip(self._PCOLS, key))
            )
            for key in touched
        }
        # Concurrent writers: the read-merge-swap below is a critical
        # section — two writers merging into the same key-partition
        # would each read the pre-merge state and the second swap would
        # silently drop the first writer's updates (lost update).  The
        # backend's exclusive() serializes writers per table (a no-op
        # on transactional formats, whose MERGE commit detects the
        # conflict instead); the staging dir is writer-unique so even
        # a misbehaving concurrent caller can't clobber it.
        import uuid

        tmp = lp + f".__upsert_tmp-{uuid.uuid4().hex}"
        with self.backend.exclusive(lp):
            existing = [d for d in live_dirs.values() if os.path.isdir(d)]
            if existing:
                current = spark.read.option("basePath", lp).parquet(*existing)
                merged = current.withColumn("_pri", F.lit(0)).unionByName(
                    batch.withColumn("_pri", F.lit(1))
                )
                w2 = Window.partitionBy(self.key_col).orderBy(
                    F.col(self.event_time_col).desc(), F.col("_pri").desc()
                )
                merged = (
                    merged.withColumn("__rn", F.row_number().over(w2))
                    .filter(F.col("__rn") == 1)
                    .drop("__rn", "_pri")
                )
            else:
                merged = batch
            (
                merged.repartition(*self._PCOLS)
                .write.partitionBy(*self._PCOLS)
                .mode("overwrite")
                .parquet(tmp)
            )
            rewritten = []
            for key, live in live_dirs.items():
                tdir = os.path.join(
                    tmp, *(f"{c}={v}" for c, v in zip(self._PCOLS, key))
                )
                if not os.path.isdir(tdir):
                    continue  # batch rows all lost to older-than-store keys
                self.backend.swap_directory(tdir, live)
                rewritten.append(live)
        shutil.rmtree(tmp, ignore_errors=True)
        return rewritten

    def _upsert_whole(self, spark: SparkSession, batch: DataFrame) -> list[str]:
        """Unpartitioned fallback: MERGE over the whole (small) table
        with one atomic directory swap, serialized against concurrent
        writers by the backend's table lock (see upsert_latest)."""
        import uuid

        lp = self.latest_path
        tmp = lp + f".__upsert_tmp-{uuid.uuid4().hex}"
        with self.backend.exclusive(lp):
            if os.path.isdir(lp):
                current = self.backend.read(spark, lp)
                merged = current.withColumn("_pri", F.lit(0)).unionByName(
                    batch.withColumn("_pri", F.lit(1))
                )
                w2 = Window.partitionBy(self.key_col).orderBy(
                    F.col(self.event_time_col).desc(), F.col("_pri").desc()
                )
                merged = (
                    merged.withColumn("__rn", F.row_number().over(w2))
                    .filter(F.col("__rn") == 1)
                    .drop("__rn", "_pri")
                )
            else:
                merged = batch
            merged.write.mode("overwrite").parquet(tmp)
            self.backend.swap_directory(tmp, lp)
        return [lp]
