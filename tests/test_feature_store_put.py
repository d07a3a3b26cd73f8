"""FeatureStore.put_batch: one Spark read of the batch into Arrow, then a
driver-side parquet write. Pins what a put costs (generated code, jobs,
files), its dedup rule and stamp, that a failed write leaves no partial
file, and that stores mixing Spark-written files (compaction, INT96
timestamps) with Arrow-written puts (INT64 timestamps) read back
unchanged."""

from __future__ import annotations

import math
import os
import time

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from mlops_realtime_data_ingestion_spark.streaming import storage
from mlops_realtime_data_ingestion_spark.streaming.feature_store import FeatureStore

SCHEMA = (
    "struct<tx_minute:timestamp,total_nb_trx_1min:bigint,total_fee_1min:bigint,"
    "avg_fee_1min:double,event_time:double,year:int,month:int,day:int,hour:int>"
)


def _agg(spark, rows, stamped: bool = True):
    """Minute-aggregate rows ``(minute, n, fee_sum, event_time)`` in the
    pipeline's output shape; ``stamped=False`` drops ``event_time`` so
    the put stamps it."""
    df = spark.createDataFrame(rows, "m string, n long, s long, et double").select(
        F.to_timestamp("m").alias("tx_minute"),
        F.col("n").alias("total_nb_trx_1min"),
        F.col("s").alias("total_fee_1min"),
        (F.col("s") / F.col("n")).alias("avg_fee_1min"),
        F.col("et").alias("event_time"),
    )
    return df if stamped else df.drop("event_time")


def _rows(df):
    """Sorted row tuples, the key as a UTC string formatted by Spark."""
    return sorted(
        tuple(r)
        for r in df.withColumn(
            "tx_minute", F.date_format("tx_minute", "yyyy-MM-dd HH:mm:ss")
        ).collect()
    )


def _data_files(store):
    return sorted(store.backend.list_data_files(store.path))


def test_mixed_spark_and_arrow_files_read_unchanged(spark, tmp_path):
    store = FeatureStore(str(tmp_path / "fs"))
    store.put_batch(_agg(spark, [("2024-01-01 00:01:00", 2, 30, 100.0),
                                 ("2024-01-01 01:05:00", 1, 7, 100.0)]))
    store.put_batch(_agg(spark, [("2024-01-01 00:01:00", 3, 45, 200.0)]))
    store.compact(spark, target_bytes=1 << 30)
    compacted = _data_files(store)
    store.put_batch(_agg(spark, [("2024-01-01 00:02:00", 4, 40, 300.0),
                                 ("2024-01-01 01:05:00", 2, 9, 300.0)]))
    store.put_batch(_agg(spark, [("2024-01-01 02:00:00", 1, 5, 400.0)]))
    assert store.versions() == [0, 1, 2]

    r = {
        "a1": ("2024-01-01 00:01:00", 2, 30, 15.0, 100.0, 2024, 1, 1, 0),
        "b1": ("2024-01-01 01:05:00", 1, 7, 7.0, 100.0, 2024, 1, 1, 1),
        "a2": ("2024-01-01 00:01:00", 3, 45, 15.0, 200.0, 2024, 1, 1, 0),
        "c3": ("2024-01-01 00:02:00", 4, 40, 10.0, 300.0, 2024, 1, 1, 0),
        "b3": ("2024-01-01 01:05:00", 2, 9, 4.5, 300.0, 2024, 1, 1, 1),
        "d4": ("2024-01-01 02:00:00", 1, 5, 5.0, 400.0, 2024, 1, 1, 2),
    }
    offline = store.offline(spark)
    assert offline.schema.simpleString() == SCHEMA
    assert _rows(offline) == sorted(r.values())
    assert _rows(store.offline(spark, version=0)) == sorted([r["a1"], r["b1"], r["a2"]])
    assert _rows(store.offline(spark, version=1)) == sorted(
        [r["a1"], r["b1"], r["a2"], r["c3"], r["b3"]]
    )
    assert _rows(store.offline(spark, version=2)) == _rows(offline)
    assert _rows(store.online_view(spark)) == sorted([r["a2"], r["c3"], r["b3"], r["d4"]])
    assert _rows(store.as_of(spark, 250.0)) == sorted([r["a2"], r["b1"]])
    assert [tuple(x)[1:] for x in store.get_record(spark, "2024-01-01 01:05:00")] == [r["b3"][1:]]

    # the store really mixes the two writers' timestamp encodings
    def ts_type(rel):
        return pq.ParquetFile(os.path.join(store.path, rel)).schema.column(0).physical_type

    assert {ts_type(f) for f in compacted} == {"INT96"}
    assert {ts_type(f) for f in set(_data_files(store)) - set(compacted)} == {"INT64"}


def test_put_cost_no_codegen_one_job_one_file_per_hour(spark, tmp_path):
    """After a warm-up put, same-shaped cached batches generate no new
    code, start one Spark job each and add one file per touched hour,
    with no Hadoop commit or staging leftovers."""
    sc = spark.sparkContext
    codegen = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    store = FeatureStore(str(tmp_path / "fs"))
    batches = [
        _agg(spark, [(f"2024-01-0{i + 1} 00:0{i}:00", 2, 10 + i, 0.0),
                     (f"2024-01-0{i + 1} 03:1{i}:00", 3, 20 + i, 0.0)], stamped=False).persist()
        for i in range(6)
    ]
    try:
        for b in batches:
            b.count()
        store.put_batch(batches[0])
        compiles = codegen.METRIC_COMPILATION_TIME().getCount()
        for i, b in enumerate(batches[1:], 1):
            group = f"feature-store-put-{i}"
            sc.setJobGroup(group, group)
            try:
                store.put_batch(b)
            finally:
                sc.setLocalProperty("spark.jobGroup.id", None)
            sc._jsc.sc().listenerBus().waitUntilEmpty()
            assert len(sc.statusTracker().getJobIdsForGroup(group)) == 1, i
            added = set(store.backend.files_as_of(store.path, i)) - set(
                store.backend.files_as_of(store.path, i - 1)
            )
            assert sorted(os.path.dirname(f) for f in added) == [
                f"year=2024/month=1/day={i + 1}/hour=0",
                f"year=2024/month=1/day={i + 1}/hour=3",
            ]
        assert codegen.METRIC_COMPILATION_TIME().getCount() == compiles
    finally:
        for b in batches:
            b.unpersist()

    assert store.versions() == list(range(6))
    assert os.listdir(tmp_path) == ["fs"]  # no staging directory beside the store
    for root, dirs, files in os.walk(store.path):
        for name in dirs + files:
            assert not name.startswith((".", "_")) or name == "_manifests", os.path.join(root, name)
    assert len(_data_files(store)) == 12


def test_put_dedup_and_stamp(spark, tmp_path):
    k1, k2 = "2024-01-01 00:01:00", "2024-01-01 00:02:00"

    unstamped = FeatureStore(str(tmp_path / "unstamped"))
    before = time.time()
    unstamped.put_batch(_agg(spark, [(k1, 2, 30, 0.0), (k1, 2, 30, 0.0), (k2, 1, 5, 0.0)],
                             stamped=False))
    after = time.time()
    rows = unstamped.offline(spark).select("tx_minute", "event_time").collect()
    assert len(rows) == 2 and len({r["tx_minute"] for r in rows}) == 2
    # one stamp per put: wall-clock seconds, whole, as a double
    (stamp,) = {r["event_time"] for r in rows}
    assert stamp == math.floor(stamp) and math.floor(before) <= stamp <= after

    same = FeatureStore(str(tmp_path / "same"))
    same.put_batch(_agg(spark, [(k1, 2, 30, 1.0), (k1, 2, 30, 1.0)]))
    assert _rows(same.offline(spark)) == [(k1, 2, 30, 15.0, 1.0, 2024, 1, 1, 0)]

    versions = FeatureStore(str(tmp_path / "versions"))
    versions.put_batch(_agg(spark, [(k1, 2, 30, 1.0), (k1, 3, 45, 2.0)]))
    assert _rows(versions.offline(spark)) == [
        (k1, 2, 30, 15.0, 1.0, 2024, 1, 1, 0),
        (k1, 3, 45, 15.0, 2.0, 2024, 1, 1, 0),
    ]


def test_failed_append_leaves_no_partial_file(tmp_path, monkeypatch):
    def write_then_fail(table, where):
        with open(where, "wb") as f:
            f.write(b"PAR1")
        raise OSError("disk full")

    monkeypatch.setattr(storage.pq, "write_table", write_then_fail)
    table = pa.table({"v": [1.0], "year": [2024], "month": [1], "day": [1], "hour": [0]})
    with pytest.raises(OSError, match="disk full"):
        storage.ParquetManifestBackend().append(
            table, str(tmp_path / "t"), ("year", "month", "day", "hour")
        )
    assert [f for _, _, files in os.walk(tmp_path) for f in files] == []
