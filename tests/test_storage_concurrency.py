"""Multi-writer safety for the parquet+manifest backend (the gap vs
Delta/Iceberg closed in round 4): optimistic CAS on manifest commits,
UUID-named appends renamed into place, and a table lock serializing the
read-merge-swap upsert critical section."""

from __future__ import annotations

import json
import os
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import functions as F

from mlops_realtime_data_ingestion_spark.streaming.feature_store import FeatureStore
from mlops_realtime_data_ingestion_spark.streaming.storage import (
    ParquetManifestBackend,
)


def test_concurrent_manifest_commits_all_survive(tmp_path):
    """N threads x M commits: every commit must get a unique version
    and every added-list must be readable afterwards (os.replace-based
    publishing silently overwrote colliding versions)."""
    b = ParquetManifestBackend()
    path = str(tmp_path / "t")
    os.makedirs(path)

    def committer(i):
        return [b.commit_version(path, [f"w{i}-c{j}.parquet"]) for j in range(8)]

    with ThreadPoolExecutor(4) as ex:
        got = list(ex.map(committer, range(4)))
    versions = sorted(v for vs in got for v in vs)
    assert versions == list(range(32))  # unique, dense, none lost
    # every writer's every added-list is present in the log
    files = set(b.files_as_of(path, 31))
    assert files == {f"w{i}-c{j}.parquet" for i in range(4) for j in range(8)}


def test_concurrent_put_batch_no_double_count(spark, tmp_path):
    """Two writers appending concurrently: each manifest must list
    only its own files (a before/after directory diff attributes the
    other writer's files to both commits), and the offline read must
    hold every row exactly once."""
    fs = FeatureStore(str(tmp_path / "fs"), key_col="k", event_time_col="et")

    def put(i):
        rows = [(f"2024-01-01 0{i}:0{j}:00", 1.0, float(10 * i + j)) for j in range(5)]
        batch = spark.createDataFrame(
            rows, "k_str string, et double, v double"
        ).select(F.to_timestamp("k_str").alias("k"), "et", "v")
        fs.put_batch(batch)

    with ThreadPoolExecutor(2) as ex:
        list(ex.map(put, range(2)))

    assert fs.offline(spark).count() == 10
    # no data file appears in two manifests
    mdir = os.path.join(str(tmp_path / "fs"), "_manifests")
    all_added = []
    for n in sorted(os.listdir(mdir)):
        with open(os.path.join(mdir, n)) as f:
            all_added.extend(json.load(f)["added"])
    assert len(all_added) == len(set(all_added))
    # and the committed view equals what's on disk
    vs = fs.versions()
    assert set(fs.backend.files_as_of(fs.path, vs[-1])) == fs.backend.list_data_files(
        fs.path
    )


def test_concurrent_upsert_latest_no_lost_update(spark, tmp_path):
    """Two upsert_latest writers hitting the SAME key-partition: both
    updates must survive (unserialized read-merge-swap loses one), and
    writers on different keys must also both land."""
    fs = FeatureStore(str(tmp_path / "ups"), key_col="k", event_time_col="et")
    base = spark.createDataFrame(
        [("2024-01-01 00:05:00", 1.0, 0.0), ("2024-01-01 00:06:00", 1.0, 0.0)],
        "k_str string, et double, v double",
    ).select(F.to_timestamp("k_str").alias("k"), "et", "v")
    fs.upsert_latest(spark, base)

    def upsert(i):
        # writer 0 updates key :05, writer 1 updates key :06 — same
        # hour partition, so the copy-on-write rewrites collide
        rows = [(f"2024-01-01 00:0{5 + i}:00", 2.0, float(100 + i))]
        batch = spark.createDataFrame(
            rows, "k_str string, et double, v double"
        ).select(F.to_timestamp("k_str").alias("k"), "et", "v")
        fs.upsert_latest(spark, batch)

    with ThreadPoolExecutor(2) as ex:
        list(ex.map(upsert, range(2)))

    got = {r["k"].minute: r["v"] for r in fs.latest(spark).collect()}
    assert got == {5: 100.0, 6: 101.0}  # neither update lost
    # no leftover staging/lock dirs next to the latest table
    leftovers = [
        n for n in os.listdir(str(tmp_path))
        if "__upsert_tmp" in n or ".__lock" in n or ".__old" in n
    ]
    assert leftovers == []


def test_versions_past_six_digits(tmp_path):
    """Version numbers outgrow the zero-padded width: v1000000 is
    1,000,000 (not 100000), and the next commit is 1,000,001."""
    b = ParquetManifestBackend()
    path = str(tmp_path / "t")
    mdir = os.path.join(path, "_manifests")
    os.makedirs(mdir)
    for v in (999_999, 1_000_000):
        with open(os.path.join(mdir, f"v{v:06d}.json"), "w") as f:
            json.dump({"version": v, "added": [f"f{v}.parquet"]}, f)
    assert sorted(os.listdir(mdir)) == ["v1000000.json", "v999999.json"]
    assert b.versions(path) == [999_999, 1_000_000]
    assert b.files_as_of(path, 1_000_000) == ["f999999.parquet", "f1000000.parquet"]
    assert b.commit_version(path, ["g.parquet"]) == 1_000_001
    assert b.versions(path)[-1] == 1_000_001
