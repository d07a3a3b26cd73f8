"""Version time travel on the feature store's commit log: each
put_batch commits a manifest; offline(version=N) reads the store as
of batch N (SELECT ... VERSION AS OF N on a Delta/Iceberg backend).
Compaction restarts the log at a single snapshot."""

from __future__ import annotations

from pyspark.sql import functions as F

from mlops_realtime_data_ingestion_spark.streaming.feature_store import FeatureStore


def _batch(spark, rows):
    return spark.createDataFrame(
        rows, "k_str string, et double, v double"
    ).select(F.to_timestamp("k_str").alias("k"), "et", "v")


def test_version_time_travel(spark, tmp_path):
    store = FeatureStore(str(tmp_path / "tt"), key_col="k", event_time_col="et")
    store.put_batch(_batch(spark, [("2024-01-01 00:01:00", 1.0, 10.0)]))
    store.put_batch(_batch(spark, [("2024-01-01 01:01:00", 1.0, 20.0),
                                   ("2024-01-01 01:02:00", 1.0, 21.0)]))
    store.put_batch(_batch(spark, [("2024-01-02 00:01:00", 1.0, 30.0)]))
    assert store.versions() == [0, 1, 2]

    assert store.offline(spark, version=0).count() == 1
    v1 = store.offline(spark, version=1)
    assert v1.count() == 3
    # partition columns survive the file-list read (basePath)
    assert {"year", "month", "day", "hour"} <= set(v1.columns)
    assert sorted(r["v"] for r in v1.collect()) == [10.0, 20.0, 21.0]
    # latest version == current state
    cur = sorted(r["v"] for r in store.offline(spark).collect())
    as_of_2 = sorted(r["v"] for r in store.offline(spark, version=2).collect())
    assert cur == as_of_2 == [10.0, 20.0, 21.0, 30.0]


def test_unknown_version_rejected(spark, tmp_path):
    store = FeatureStore(str(tmp_path / "tt2"), key_col="k", event_time_col="et")
    store.put_batch(_batch(spark, [("2024-01-01 00:01:00", 1.0, 1.0)]))
    import pytest

    with pytest.raises(ValueError, match="unknown version"):
        store.offline(spark, version=5)


def test_compaction_restarts_log_with_snapshot(spark, tmp_path):
    store = FeatureStore(str(tmp_path / "tt3"), key_col="k", event_time_col="et")
    for i in range(3):
        store.put_batch(
            _batch(spark, [(f"2024-01-01 0{i}:01:00", float(i), float(i))])
        )
    before = sorted(map(tuple, store.offline(spark).collect()))
    store.compact(spark, target_bytes=1 << 30)
    assert store.versions() == [0]  # one full snapshot
    after_snap = sorted(map(tuple, store.offline(spark, version=0).collect()))
    assert after_snap == before
    # the log keeps working after compaction
    store.put_batch(_batch(spark, [("2024-01-01 03:01:00", 9.0, 9.0)]))
    assert store.versions() == [0, 1]
    assert store.offline(spark, version=0).count() == 3
    assert store.offline(spark, version=1).count() == 4
