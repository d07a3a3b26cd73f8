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
latest-per-key with a window function. A Delta/Iceberg deployment
replaces :class:`~.storage.ParquetManifestBackend` (the format's
transaction log is the version log): ``put_batch`` becomes ``MERGE
INTO`` and ``online_view`` a materialized latest snapshot; the API
here is the contract.

Scale: a put is driver-sized. One Spark job reads the batch into
Arrow (one partition: no shuffle, and no per-call literal, so no new
generated code after the first put) and the driver writes one parquet
file per touched hour, with no Hadoop output committer. The store holds
one row per minute key, about 525k rows for a year of backfill, so the
driver is big enough; :meth:`FeatureStore.compact` stays a distributed
Spark rewrite, and the online view is one shuffle on the key.
Re-delivered batches are harmless — the same (key, event_time) row
wins deterministically (T5: at-least-once + idempotent upsert,
delivery_stream_to_featurestore/main.py:54-63).
"""

from __future__ import annotations

import os
import shutil
import time
import uuid

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .storage import ParquetManifestBackend

__all__ = ["FeatureStore"]


def _now_s() -> float:
    """The sink's ``event_time`` stamp: wall-clock time in whole
    seconds, as a double — the value ``unix_timestamp(current_timestamp())``
    gives."""
    return float(int(time.time()))


class FeatureStore:
    """All durable-storage calls go through ``backend``
    (:class:`~.storage.ParquetManifestBackend`). The offline history
    and the materialized latest table are both hive-partitioned by the
    key's year/month/day/hour, as the reference's offline store is
    (FeatureStoreAggregateParquet.py:40-58)."""

    _PCOLS = ("year", "month", "day", "hour")

    def __init__(
        self, path: str, key_col: str = "tx_minute", event_time_col: str = "event_time"
    ) -> None:
        self.path = path
        self.key_col = key_col
        self.event_time_col = event_time_col
        self.backend = ParquetManifestBackend()

    # -- the store's per-row rules, shared by every read and write ------
    def _stamped(self, batch: DataFrame) -> DataFrame:
        """Stamp ``event_time`` if absent (the reference stamps now()
        at the sink, delivery_stream_to_featurestore/main.py:60)."""
        if self.event_time_col in batch.columns:
            return batch
        return batch.withColumn(self.event_time_col, F.lit(_now_s()))

    def _with_partitions(self, batch: DataFrame) -> DataFrame:
        """Add the year/month/day/hour partition columns of the key."""
        k = self.key_col
        return batch.withColumns(
            {"year": F.year(k), "month": F.month(k), "day": F.dayofmonth(k), "hour": F.hour(k)}
        )

    def _latest(self, df: DataFrame, *tiebreak: str) -> DataFrame:
        """One row per key: the last ``event_time`` wins, ties go to
        the highest ``tiebreak`` columns (dropped from the result).
        Ties on (key, event_time) with no tiebreak are deduped at put."""
        w = Window.partitionBy(self.key_col).orderBy(
            F.col(self.event_time_col).desc(), *(F.col(c).desc() for c in tiebreak)
        )
        return (
            df.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn", *tiebreak)
        )

    def _partition_dir(self, root: str, key: tuple) -> str:
        return os.path.join(root, *(f"{c}={v}" for c, v in zip(self._PCOLS, key)))

    # -- S9: streaming upsert sink ------------------------------------
    def put_batch(self, batch: DataFrame) -> None:
        """Append a batch of records (offline history). Stamps
        ``event_time`` if absent; dedups identical (key, event_time)
        pairs within the batch so re-processing is idempotent (a
        stamped batch shares one stamp, so there the key alone is the
        rule). Each put commits a versioned manifest (the added file
        list) enabling :meth:`offline` time travel — the commit-log
        shape a Delta/Iceberg table gets from its format (on those
        formats this is the transaction log itself).

        One Spark job reads the batch into Arrow on the driver — one
        partition, so the dedup needs no shuffle, and no per-call
        literal, so repeated puts reuse the generated code — and the
        backend writes the parquet files there. Driver-sized by design:
        the store holds one row per minute key, about 525k rows for a
        year of backfill; :meth:`compact` stays a distributed rewrite.

        Callers pass non-empty batches: each call commits exactly one
        version, so on a fresh store the n-th put is version n. The
        streaming sink counts its cached batch first and skips empty
        ones."""
        stamp = self.event_time_col not in batch.columns
        subset = [self.key_col] if stamp else [self.key_col, self.event_time_col]
        table = self._with_partitions(batch.coalesce(1).dropDuplicates(subset)).toArrow()
        if stamp:
            table = table.append_column(self.event_time_col, pa.repeat(_now_s(), table.num_rows))
        added = self.backend.append(table, self.path, self._PCOLS)
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
        semantics; the last event_time wins)."""
        return self._latest(self.offline(spark))

    def as_of(self, spark: SparkSession, event_time_cutoff: float) -> DataFrame:
        """Point-in-time view: latest record per key with event_time <=
        cutoff — the offline store's time-travel / point-in-time-correct
        join input (SageMaker offline stores are queried this way to
        avoid feature leakage; here it is one filter + the same
        latest-per-key window)."""
        return self._latest(
            self.offline(spark).filter(
                F.col(self.event_time_col) <= F.lit(event_time_cutoff)
            )
        )

    def get_record(self, spark: SparkSession, key_value) -> list:
        """S10: online point-read (read_feature_store.ipynb cell 6)."""
        return (
            self.online_view(spark)
            .filter(F.col(self.key_col) == F.lit(key_value))
            .collect()
        )

    # -- S12: compaction ---------------------------------------------
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
        n_map = [
            (*key, int(max(1, -(-b // target_bytes))))  # ceil (A9)
            for key, b in self._partition_sizes().items()
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
        # batch-local latest per key, then the merge with the touched
        # partitions' current rows (on a tie the batch row wins)
        batch = self._with_partitions(self._latest(self._stamped(batch)))
        # driver holds one tuple per TOUCHED partition — bounded by the
        # batch's key spread, not the table (the MERGE pruning set)
        touched = sorted(
            tuple(r[c] for c in self._PCOLS)
            for r in batch.select(*self._PCOLS).distinct().collect()
        )
        lp = self.latest_path
        live_dirs = {key: self._partition_dir(lp, key) for key in touched}
        # Concurrent writers: the read-merge-swap below is a critical
        # section — two writers merging into the same key-partition
        # would each read the pre-merge state and the second swap would
        # silently drop the first writer's updates (lost update).  The
        # backend's exclusive() serializes writers per table (a
        # transactional format's MERGE commit detects the conflict
        # instead); the staging dir is writer-unique so even a
        # misbehaving concurrent caller can't clobber it.
        tmp = lp + f".__upsert_tmp-{uuid.uuid4().hex}"
        with self.backend.exclusive(lp):
            existing = [d for d in live_dirs.values() if os.path.isdir(d)]
            if existing:
                current = spark.read.option("basePath", lp).parquet(*existing)
                merged = self._latest(
                    current.withColumn("_pri", F.lit(0)).unionByName(
                        batch.withColumn("_pri", F.lit(1))
                    ),
                    "_pri",
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
                tdir = self._partition_dir(tmp, key)
                if not os.path.isdir(tdir):
                    continue  # batch rows all lost to older-than-store keys
                self.backend.swap_directory(tdir, live)
                rewritten.append(live)
        shutil.rmtree(tmp, ignore_errors=True)
        return rewritten
