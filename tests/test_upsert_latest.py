"""MERGE-shaped online materialization (SURVEY.md §1.1: the feature
group 'becomes MERGE INTO on Delta', lib/sagemaker/feature-store.ts:
186-193). ``upsert_latest`` maintains a latest-per-key TABLE with
partition-pruned copy-on-write rewrites; it must agree row-for-row
with the append-store's ``online_view`` and be idempotent (T5)."""

from __future__ import annotations

import glob
import os

from pyspark.sql import functions as F

from mlops_realtime_data_ingestion_spark.streaming.feature_store import FeatureStore


def _batch(spark, rows):
    return (
        spark.createDataFrame(rows, "k_str string, et double, v double")
        .select(F.to_timestamp("k_str").alias("k"), "et", "v")
    )


B1 = [
    ("2024-01-01 00:05:00", 1.0, 10.0),
    ("2024-01-01 00:06:00", 1.0, 11.0),
    ("2024-01-01 01:05:00", 1.0, 12.0),
]
B2 = [
    ("2024-01-01 00:05:00", 2.0, 20.0),  # update key in hour=0
    ("2024-01-01 02:00:00", 2.0, 21.0),  # brand-new hour=2
]


def _stores(spark, tmp_path, name):
    app = FeatureStore(str(tmp_path / f"{name}_app"), key_col="k", event_time_col="et")
    ups = FeatureStore(str(tmp_path / f"{name}_ups"), key_col="k", event_time_col="et")
    return app, ups


def test_upsert_latest_matches_online_view(spark, tmp_path):
    app, ups = _stores(spark, tmp_path, "m")
    for rows in (B1, B2):
        app.put_batch(_batch(spark, rows))
        ups.upsert_latest(spark, _batch(spark, rows))
    view = sorted(
        (r["k"], r["et"], r["v"]) for r in app.online_view(spark).collect()
    )
    table = sorted(
        (r["k"], r["et"], r["v"]) for r in ups.latest(spark).collect()
    )
    assert table == view
    # true upsert: one row per key, the store holds 4 keys
    assert len(table) == 4
    assert dict((k.minute, v) for k, _, v in table if k.hour == 0) == {5: 20.0, 6: 11.0}


def test_upsert_latest_is_idempotent(spark, tmp_path):
    _, ups = _stores(spark, tmp_path, "i")
    ups.upsert_latest(spark, _batch(spark, B1))
    ups.upsert_latest(spark, _batch(spark, B2))
    before = sorted(map(tuple, ups.latest(spark).collect()))
    ups.upsert_latest(spark, _batch(spark, B2))  # re-delivery (T5)
    after = sorted(map(tuple, ups.latest(spark).collect()))
    assert before == after


def test_upsert_latest_rewrites_only_touched_partitions(spark, tmp_path):
    _, ups = _stores(spark, tmp_path, "p")
    ups.upsert_latest(spark, _batch(spark, B1))  # hours 0 and 1
    hour1 = os.path.join(
        ups.latest_path, "year=2024", "month=1", "day=1", "hour=1"
    )
    before = {
        f: open(f, "rb").read()
        for f in glob.glob(os.path.join(hour1, "*.parquet"))
    }
    assert before
    rewritten = ups.upsert_latest(spark, _batch(spark, B2))  # hours 0 and 2
    assert hour1 not in rewritten
    after = {
        f: open(f, "rb").read()
        for f in glob.glob(os.path.join(hour1, "*.parquet"))
    }
    assert after == before  # untouched partition is byte-identical
    # tie on event_time: batch row wins (WHEN MATCHED AND >= THEN UPDATE)
    tie = _batch(spark, [("2024-01-01 02:00:00", 2.0, 99.0)])
    ups.upsert_latest(spark, tie)
    row = [r for r in ups.latest(spark).collect() if r["k"].hour == 2]
    assert len(row) == 1 and row[0]["v"] == 99.0
