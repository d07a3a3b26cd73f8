"""Kappa-architecture proof: the SAME logical computation (dedup +
1-min window count/sum/avg) run as a Structured Streaming pipeline
over a backlog equals the plain batch DataFrame aggregation over the
same rows — one engine, two execution modes, identical results.

The only allowed difference: streaming emits a window only once the
watermark passes it (Flink-style finalized windows, pipeline.py), so
the tail windows within [max_ts - watermark, max_ts] may be absent
from the streaming side. Everything emitted must match batch exactly.

The gap backfill shares the streaming aggregate's definition
(``tumbling_agg``): backfilling an empty store from the pipeline's own
bronze gives every streamed window again, plus only tail windows the
stream has not finalized yet.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from mlops_realtime_data_ingestion_spark.sources.batch import load_table
from mlops_realtime_data_ingestion_spark.streaming.backfill import backfill_gaps
from mlops_realtime_data_ingestion_spark.streaming.feature_store import FeatureStore
from tests.test_streaming import _pipeline, _typed_stream


def test_streaming_backlog_equals_batch_agg(spark, tmp_path):
    ev = load_table(spark, "/root/testdata/sf0.001", "events").filter(
        F.col("ts") < F.lit("2024-01-03 00:00:00")
    )
    src = tmp_path / "src"
    src.mkdir()
    (
        ev.select(
            "event_id",
            F.unix_micros("ts").alias("ts_micros"),
            "user_id",
            "event_type",
            "value",
            "props",
        )
        .coalesce(2)
        .write.mode("overwrite")
        .json(str(src))
    )

    pipe = _pipeline(tmp_path, "equiv")
    pipe.run(_typed_stream(spark, str(src)), available_now=True)

    streamed = {
        r["tx_minute"]: r
        for r in pipe.store.online_view(spark).collect()
    }

    batch = (
        ev.dropDuplicates(["event_id"])
        .groupBy(F.window("ts", "1 minute").alias("w"))
        .agg(
            F.count("*").alias("n"),
            F.sum("value").alias("total"),
            F.avg("value").alias("avg"),
        )
        .select(F.col("w.start").alias("tx_minute"), "n", "total", "avg")
    )
    batch_rows = {r["tx_minute"]: r for r in batch.collect()}

    max_ts = ev.agg(F.max("ts")).collect()[0][0]
    assert len(streamed) > 0
    # every streamed window matches batch exactly
    for ts, s in streamed.items():
        b = batch_rows[ts]
        assert s["total_nb_trx_1min"] == b["n"]
        assert s["total_fee_1min"] == pytest.approx(b["total"], rel=1e-12)
        assert s["avg_fee_1min"] == pytest.approx(b["avg"], rel=1e-12)
    # anything batch has that streaming lacks sits inside the
    # unfinalized tail (watermark = 60s behind max event time)
    missing = set(batch_rows) - set(streamed)
    for ts in missing:
        assert (max_ts - ts).total_seconds() <= 120, (ts, max_ts)

    # the backfill over the same bronze reproduces every streamed window
    filled = FeatureStore(str(tmp_path / "backfilled"))
    backfill_gaps(spark, filled, spark.read.parquet(pipe.config.bronze_path))
    backfilled = {r["tx_minute"]: r for r in filled.online_view(spark).collect()}
    for ts, s in streamed.items():
        b = backfilled[ts]
        assert b["total_nb_trx_1min"] == s["total_nb_trx_1min"]
        assert b["total_fee_1min"] == pytest.approx(s["total_fee_1min"], rel=1e-12)
        assert b["avg_fee_1min"] == pytest.approx(s["avg_fee_1min"], rel=1e-12)
    for ts in set(backfilled) - set(streamed):
        assert (max_ts - ts).total_seconds() <= 120, (ts, max_ts)
