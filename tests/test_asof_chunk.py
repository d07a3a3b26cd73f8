"""As-of join semantics, feature-store time travel, greedy chunking."""

from __future__ import annotations

from pyspark.sql import functions as F

from mlops_realtime_data_ingestion_spark.operators.ingest import chunk_greedy
from mlops_realtime_data_ingestion_spark.operators.relational import asof_join
from mlops_realtime_data_ingestion_spark.streaming.feature_store import FeatureStore


def _ts(s: str):
    return F.to_timestamp(F.lit(s))


def test_asof_join_semantics(spark):
    left = spark.createDataFrame(
        [
            (1, "2024-01-01 10:00:00", "a"),
            (1, "2024-01-01 12:00:00", "b"),
            (2, "2024-01-01 10:30:00", "c"),  # no right row at or before
        ],
        "k int, ts string, tag string",
    ).withColumn("ts", F.to_timestamp("ts"))
    right = spark.createDataFrame(
        [
            (1, "2024-01-01 09:00:00", 10.0),
            (1, "2024-01-01 11:00:00", 20.0),
            (2, "2024-01-01 11:00:00", 30.0),
        ],
        "k int, ts string, v double",
    ).withColumn("ts", F.to_timestamp("ts"))

    out = {
        r["tag"]: r["v"]
        for r in asof_join(
            left, right, key_cols=["k"], left_ts="ts", right_ts="ts", value_cols=["v"]
        ).collect()
    }
    assert out == {"a": 10.0, "b": 20.0, "c": None}

    # equal timestamps match (<=, not <)
    right_eq = spark.createDataFrame(
        [(1, "2024-01-01 10:00:00", 99.0)], "k int, ts string, v double"
    ).withColumn("ts", F.to_timestamp("ts"))
    out2 = asof_join(
        left.filter(F.col("tag") == "a"),
        right_eq,
        ["k"], "ts", "ts", ["v"],
    ).collect()[0]
    assert out2["v"] == 99.0

    # tolerance: stale matches nulled
    out3 = {
        r["tag"]: r["v"]
        for r in asof_join(
            left, right, ["k"], "ts", "ts", ["v"], tolerance="30 minutes"
        ).collect()
    }
    assert out3 == {"a": None, "b": None, "c": None}  # 1h/1h gaps all stale


def test_feature_store_as_of(spark, tmp_path):
    store = FeatureStore(str(tmp_path / "fs_asof"), key_col="k", event_time_col="et")
    a, b = "2024-01-01 00:01:00", "2024-01-01 01:02:00"
    store.put_batch(
        spark.createDataFrame(
            [(a, 1.0, 10.0), (a, 5.0, 50.0), (b, 3.0, 30.0)],
            "k_str string, et double, v double",
        ).select(F.to_timestamp("k_str").alias("k"), "et", "v")
    )
    at2 = {str(r["k"]): r["v"] for r in store.as_of(spark, 2.0).collect()}
    assert at2 == {a: 10.0}  # b not yet written, a's v=50 in the future
    at9 = {str(r["k"]): r["v"] for r in store.as_of(spark, 9.0).collect()}
    assert at9 == {a: 50.0, b: 30.0}


def test_chunk_greedy_packing(spark):
    rows = [
        # group 1: sizes 100,100,100 with cap 250 -> batches [0,0,1]
        (1, 1, 100), (1, 2, 100), (1, 3, 100),
        # group 2: oversized row dropped, rest packed
        (2, 1, 300), (2, 2, 200), (2, 3, 40),
    ]
    df = spark.createDataFrame(rows, "poll_id int, seq int, sz int")
    out = chunk_greedy(
        df, group_cols=["poll_id"], order=["seq"], size_col="sz", max_bytes=250
    ).collect()
    g1 = {r["seq"]: r["batch_id"] for r in out if r["poll_id"] == 1}
    assert g1 == {1: 0, 2: 0, 3: 1}
    g2 = {r["seq"]: r["batch_id"] for r in out if r["poll_id"] == 2}
    assert g2 == {2: 0, 3: 0}  # 300 dropped (oversized), 200+40 <= 250
    # every batch respects the cap
    import collections

    sums = collections.defaultdict(int)
    for r in out:
        sums[(r["poll_id"], r["batch_id"])] += r["sz"]
    assert all(v <= 250 for v in sums.values())


def test_asof_join_cogrouped_matches_window_variant(spark):
    """The cogrouped-map (pd.merge_asof) spelling must reproduce the
    window-carry asof_join exactly: plain, equal-timestamp, tolerance,
    and right-only-key cases."""
    from mlops_realtime_data_ingestion_spark.operators.relational import (
        asof_join_cogrouped,
    )

    left = spark.createDataFrame(
        [
            (1, "2024-01-01 10:00:00", "a"),
            (1, "2024-01-01 12:00:00", "b"),
            (2, "2024-01-01 10:30:00", "c"),
            (1, "2024-01-01 09:00:00", "d"),  # equal-ts match
        ],
        "k int, ts string, tag string",
    ).withColumn("ts", F.to_timestamp("ts"))
    right = spark.createDataFrame(
        [
            (1, "2024-01-01 09:00:00", 10.0),
            (1, "2024-01-01 11:00:00", 20.0),
            (2, "2024-01-01 11:00:00", 30.0),
            (3, "2024-01-01 08:00:00", 40.0),  # right-only key
        ],
        "k int, rts string, v double",
    ).withColumn("rts", F.to_timestamp("rts"))

    for tol in (None, "30 minutes", "2 hours"):
        a = {
            (r["k"], r["tag"]): r["v"]
            for r in asof_join(
                left, right, ["k"], "ts", "rts", ["v"], tolerance=tol
            ).collect()
        }
        b = {
            (r["k"], r["tag"]): r["v"]
            for r in asof_join_cogrouped(
                left, right, ["k"], "ts", "rts", ["v"], tolerance=tol
            ).collect()
        }
        assert a == b, tol
    # sanity of the no-tolerance case itself
    none_tol = {
        (r["k"], r["tag"]): r["v"]
        for r in asof_join_cogrouped(left, right, ["k"], "ts", "rts", ["v"]).collect()
    }
    assert none_tol == {(1, "a"): 10.0, (1, "b"): 20.0, (2, "c"): None, (1, "d"): 10.0}
