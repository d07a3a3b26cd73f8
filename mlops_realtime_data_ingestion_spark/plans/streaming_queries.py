"""Streaming queries for the registry — the continuous pipeline run
in availableNow (backlog-drain) mode over the driver's events table.

Non-SQL-expressible (stateful streaming semantics: watermark dedup,
finalized-window emission, checkpointed upsert) -> rows-only driver
check; the semantics themselves are golden-tested in
tests/test_streaming.py against batch analogues.
"""

from __future__ import annotations

import tempfile

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..sources.batch import load_table
from ..sources.streaming import json_file_stream
from ..streaming.pipeline import PipelineConfig, StreamingPipeline
from .spec import QuerySpec


def streaming_pipeline_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end: events (first 3 days) -> JSONL backlog -> dedup ->
    bronze -> 1-min windowed agg -> feature-store upsert -> online
    view. Returns the online latest-per-window records (the
    reference's feature-group content, agg-fg-schema.json:3-34).

    ORACLE-CHECKABLE (round-4): the availableNow drain reads the whole
    backlog as one micro-batch per stage, so nothing is ever late and
    the emitted windows equal the batch 1-min aggregation restricted
    to FINALIZED windows (window_end <= max(tx_time) - the 60 s
    watermark — the final in-flight windows stay in state, exactly as
    a live run would hold them). Determinism choices that make the
    hash comparable across engines: fee is decimal(18,4) (exact sums
    under any partitioning), avg is recomputed at return time as
    double division of the exact sum, and the wall-clock event_time
    stamp is not part of the result."""
    tmp = tempfile.mkdtemp(prefix="spark_stream_e2e_")
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("ts") < F.lit("2024-01-04 00:00:00")
    )
    (
        ev.select(
            "event_id",
            F.unix_micros("ts").alias("ts_micros"),
            "user_id",
            "event_type",
            "value",
            "props",
        )
        .coalesce(4)
        .write.mode("overwrite")
        .json(f"{tmp}/src")
    )
    raw = json_file_stream(spark, f"{tmp}/src")
    typed = raw.select(
        F.col("event_id").cast("string").alias("hash"),
        F.timestamp_micros("ts_micros").alias("tx_time"),
        F.col("value").cast("decimal(18,4)").alias("fee"),
    )
    pipe = StreamingPipeline(
        PipelineConfig(
            feature_path=f"{tmp}/features",
            checkpoint_root=f"{tmp}/ckpt",
            bronze_path=f"{tmp}/bronze",
        )
    )
    pipe.run(typed, available_now=True)
    return pipe.store.online_view(spark).select(
        "tx_minute",
        "total_nb_trx_1min",
        F.col("total_fee_1min").cast("double").alias("total_fee_1min"),
        (
            F.col("total_fee_1min").cast("double") / F.col("total_nb_trx_1min")
        ).alias("avg_fee_1min"),
    )


def streaming_breach_alarm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful operator (applyInPandasWithState): the
    reference's consecutive-breach alarm
    (model-monitor-template.yml:786-795) evaluated over a replayed
    metric stream. Metric series = hourly mean event value; threshold
    chosen so the synthetic data produces both breaches and
    recoveries.

    ORACLE-CHECKABLE (round-4): the metric backlog drains as ONE
    micro-batch, within which the operator sorts by event time — so
    the per-key counter walk equals a batch gaps-and-islands rewrite
    (same SQL family as the green monitoring_consecutive_breach).
    The hourly mean is decimal-sum exact so the value column (and the
    >= threshold comparison) is bit-stable across engines."""
    import tempfile

    from ..streaming.stateful import consecutive_breach_alarm

    tmp = tempfile.mkdtemp(prefix="spark_stream_alarm_")
    ev = load_table(spark, sf_dir, "events")
    (
        ev.groupBy(F.date_trunc("hour", "ts").alias("ts"))
        .agg(
            (
                F.sum(F.col("value").cast("decimal(18,4)")).cast("double")
                / F.count("value")
            ).alias("value")
        )
        .select(
            F.lit("hourly_avg_value").alias("metric"),
            F.unix_micros("ts").alias("ts_micros"),
            "value",
        )
        .coalesce(2)
        .write.mode("overwrite")
        .json(f"{tmp}/metrics")
    )
    import pyspark.sql.types as T

    schema = T.StructType(
        [
            T.StructField("metric", T.StringType()),
            T.StructField("ts_micros", T.LongType()),
            T.StructField("value", T.DoubleType()),
        ]
    )
    stream = (
        spark.readStream.schema(schema)
        .json(f"{tmp}/metrics")
        .select("metric", F.timestamp_micros("ts_micros").alias("ts"), "value")
    )
    alarms = consecutive_breach_alarm(stream, threshold=50.5, n_breaches=3)
    q = (
        alarms.writeStream.format("memory")
        .queryName("breach_alarm_sink")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    return spark.sql(
        "SELECT metric, ts, value, consecutive, transition "
        "FROM breach_alarm_sink ORDER BY ts"
    )


def s1_http_poll_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1 as a real Spark source: the reference's HTTP poller
    (ingestion-worker/lib.js:36-50) via the Python Data Source API
    (sources/http_poll), batch-backfill mode — 8 deterministic polls
    through the production pipeline shape (dedup → 1-min window).

    ORACLE-CHECKABLE (round-5): the fake:// backend is a pure
    function of (seed, poll index), so the oracle replays the exact
    payload as an inline VALUES fixture (built from the same
    ``fake_poll_rows``) — the check covers the Data Source partition
    fan-out, the keyed dedup, and the windowed agg. Dedup is
    keep-first by tx_index (dropDuplicates would keep an arbitrary
    row per hash, and dup rows differ in fee/time — nondeterministic
    under partitioning); the avg is an exact integer-sum division."""
    from ..sources.http_poll import register

    register(spark)
    df = (
        spark.read.format("blockchain_poll")
        .option("num_polls", 8)
        .option("per_poll", 100)
        .load()
    )
    w = Window.partitionBy("hash").orderBy(F.col("tx_index").asc())
    return (
        df.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .withColumn("tx_time", F.to_timestamp(F.from_unixtime("time")))
        .groupBy(F.window("tx_time", "1 minute").alias("w"))
        .agg(
            F.count("hash").alias("total_nb_trx_1min"),
            F.sum("fee").alias("total_fee_1min"),
            (
                F.sum("fee").cast("double") / F.count("hash")
            ).alias("avg_fee_1min"),
        )
        .select(
            F.col("w.start").alias("tx_minute"),
            "total_nb_trx_1min",
            "total_fee_1min",
            "avg_fee_1min",
        )
        .orderBy("tx_minute")
    )


def _s1_oracle() -> str:
    """Inline VALUES replay of the deterministic fake:// payload (8
    polls x 100 rows, seed 'graft') — byte-identical to what the
    registered Data Source emits, so the differential check exercises
    the full source -> dedup -> window path."""
    from ..sources.http_poll import fake_poll_rows

    vals = ",\n".join(
        f"('{r[0]}', {r[6]}, {r[9]}, {r[11]})"
        for p in range(8)
        for r in fake_poll_rows(p, 100, "graft")
    )
    return f"""
WITH src(hash, fee, tx_index, time) AS (VALUES
{vals}
), d AS (
  SELECT hash, fee, time FROM (
    SELECT hash, fee, time,
           row_number() OVER (PARTITION BY hash ORDER BY tx_index) AS rn
    FROM src
  ) WHERE rn = 1
)
SELECT date_trunc('minute', CAST(to_timestamp(time) AS TIMESTAMP)) AS tx_minute,
       CAST(count(*) AS BIGINT) AS total_nb_trx_1min,
       CAST(sum(fee) AS BIGINT) AS total_fee_1min,
       CAST(sum(fee) AS DOUBLE) / count(*) AS avg_fee_1min
FROM d GROUP BY 1
"""


def streaming_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join: clicks attributed to the views
    they followed within 10 minutes, per user — watermarks on BOTH
    sides bound the join state (Spark evicts view rows once the click
    watermark passes view_ts + 10 min; unbounded without it).

    Each side is drained as ONE micro-batch (single source file +
    availableNow), so no row is ever late and the streaming result
    equals the batch interval join — which is why this streaming query
    CAN carry a SQL oracle, unlike the watermark-dropping pipeline.
    """
    tmp = tempfile.mkdtemp(prefix="spark_stream_join_")
    ev = load_table(spark, sf_dir, "events")
    for etype, sub in (("view", "views"), ("click", "clicks")):
        (
            ev.filter(F.col("event_type") == etype)
            .select("event_id", F.unix_micros("ts").alias("ts_micros"), "user_id")
            .coalesce(1)
            .write.mode("overwrite")
            .json(f"{tmp}/{sub}")
        )
    import pyspark.sql.types as T

    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts_micros", T.LongType()),
            T.StructField("user_id", T.LongType()),
        ]
    )
    v = (
        spark.readStream.schema(schema)
        .json(f"{tmp}/views")
        .select(
            F.col("event_id").alias("view_id"),
            F.col("user_id").alias("v_user"),
            F.timestamp_micros("ts_micros").alias("v_ts"),
        )
        .withWatermark("v_ts", "30 minutes")
    )
    c = (
        spark.readStream.schema(schema)
        .json(f"{tmp}/clicks")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user"),
            F.timestamp_micros("ts_micros").alias("c_ts"),
        )
        .withWatermark("c_ts", "30 minutes")
    )
    joined = v.join(
        c,
        F.expr(
            "v_user = c_user AND c_ts >= v_ts AND c_ts <= v_ts + interval 10 minutes"
        ),
    ).select(
        F.col("v_user").alias("user_id"),
        "view_id",
        "click_id",
        (F.unix_timestamp("c_ts") - F.unix_timestamp("v_ts")).alias("gap_s"),
    )
    q = (
        joined.writeStream.format("memory")
        .queryName("stream_join_sink")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    return spark.sql("SELECT user_id, view_id, click_id, gap_s FROM stream_join_sink")


STREAM_JOIN_ORACLE = """
WITH v AS (
  SELECT event_id AS view_id, user_id, ts AS v_ts FROM events WHERE event_type = 'view'
), c AS (
  SELECT event_id AS click_id, user_id, ts AS c_ts FROM events WHERE event_type = 'click'
)
SELECT v.user_id AS user_id, view_id, click_id,
       CAST(floor(epoch(c_ts)) - floor(epoch(v_ts)) AS BIGINT) AS gap_s
FROM v JOIN c
  ON v.user_id = c.user_id AND c_ts >= v_ts AND c_ts <= v_ts + INTERVAL 10 MINUTE
"""


# The availableNow drain is one micro-batch per stage, so the emitted
# result equals the batch 1-min aggregation restricted to FINALIZED
# windows: Spark append mode emits a window once the event-time
# watermark (max tx_time - 60 s) is PAST its end.  Decimal-exact fee
# sums; avg recomputed as double division of the exact sum (both
# engines do the identical final division).
PIPELINE_E2E_ORACLE = """
WITH src AS (
  SELECT ts, CAST(value AS DECIMAL(18,4)) AS fee FROM events
  WHERE ts < TIMESTAMP '2024-01-04 00:00:00'
), agg AS (
  SELECT date_trunc('minute', ts) AS tx_minute,
         CAST(count(*) AS BIGINT) AS total_nb_trx_1min,
         CAST(sum(fee) AS DOUBLE) AS total_fee_1min
  FROM src GROUP BY 1
)
SELECT tx_minute, total_nb_trx_1min, total_fee_1min,
       total_fee_1min / total_nb_trx_1min AS avg_fee_1min
FROM agg
WHERE tx_minute + INTERVAL 1 MINUTE
      <= (SELECT max(ts) - INTERVAL 60 SECOND FROM src)
"""


# Gaps-and-islands rewrite of the stateful counter walk: island id =
# running count of non-breach rows; consecutive = breach row_number
# within the island; emit rows at count >= 3, transition marks the
# count == 3 edge.  Matches consecutive_breach_alarm over a
# single-batch drain (per-key rows sorted by ts).
BREACH_ALARM_ORACLE = """
WITH m AS (
  SELECT 'hourly_avg_value' AS metric, date_trunc('hour', ts) AS ts,
         CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) / count(value) AS value
  FROM events GROUP BY 2
), f AS (
  SELECT metric, ts, value,
         CASE WHEN value >= 50.5 THEN 1 ELSE 0 END AS b,
         sum(CASE WHEN value >= 50.5 THEN 0 ELSE 1 END)
           OVER (PARTITION BY metric ORDER BY ts) AS isl
  FROM m
), r AS (
  SELECT metric, ts, value,
         CAST(sum(b) OVER (PARTITION BY metric, isl ORDER BY ts) AS INTEGER)
           AS consecutive
  FROM f WHERE b = 1
)
SELECT metric, ts, value, consecutive, (consecutive = 3) AS transition
FROM r WHERE consecutive >= 3
"""


SPECS: dict[str, QuerySpec] = {
    "streaming_pipeline_e2e": QuerySpec(
        streaming_pipeline_e2e, PIPELINE_E2E_ORACLE, "§3.1,T1-T8 e2e pipeline"
    ),
    "streaming_breach_alarm": QuerySpec(
        streaming_breach_alarm, BREACH_ALARM_ORACLE, "§2.9 applyInPandasWithState, alarm"
    ),
    "s1_http_poll_ingest": QuerySpec(
        s1_http_poll_ingest, _s1_oracle(),
        "§2.1 S1 Python Data Source (VALUES-fixture oracle)"),
    "streaming_stream_join": QuerySpec(streaming_stream_join, STREAM_JOIN_ORACLE, "stream-stream interval join"),
}


# ---------- transformWithState record highs (round 5) ----------

def streaming_record_highs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arbitrary-state operator: per-user record-high events with
    running record ordinal, over a replayed event stream. Runs on the
    applyInPandasWithState spelling (the default until the
    transformWithStateInPandas path — implemented, opt-in via
    api='tws', protobuf-gated test in tests/test_round6_plans.py —
    has executed somewhere; see streaming/stateful.record_high_tracker).

    ORACLE-CHECKABLE like streaming_breach_alarm: the backlog drains
    as ONE micro-batch, within which the processor sorts by
    (event time, event_id) — so the stateful walk equals the batch
    prefix-max SQL exactly (raw `>` comparisons, no float math)."""
    import tempfile

    from ..streaming.stateful import record_high_tracker

    tmp = tempfile.mkdtemp(prefix="spark_stream_records_")
    ev = load_table(spark, sf_dir, "events")
    (
        ev.select(
            "user_id",
            F.unix_micros("ts").alias("ts_micros"),
            "event_id",
            "value",
        )
        .coalesce(4)
        .write.mode("overwrite")
        .json(f"{tmp}/events")
    )
    schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("ts_micros", T.LongType()),
            T.StructField("event_id", T.LongType()),
            T.StructField("value", T.DoubleType()),
        ]
    )
    stream = (
        spark.readStream.schema(schema)
        .json(f"{tmp}/events")
        .select(
            "user_id",
            F.timestamp_micros("ts_micros").alias("ts"),
            "event_id",
            "value",
        )
    )
    # the NEW-API path additionally needs the RocksDB state store;
    # only set it when that path is active (runtime conf, picked up
    # at stream start). The legacy fallback runs on the default store.
    from ..streaming.stateful import _has_protobuf

    use_tws = _has_protobuf()
    if use_tws:
        spark.conf.set(
            "spark.sql.streaming.stateStore.providerClass",
            "org.apache.spark.sql.execution.streaming.state."
            "RocksDBStateStoreProvider",
        )
    try:
        records = record_high_tracker(stream)
        q = (
            records.writeStream.format("memory")
            .queryName("record_highs_sink")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
    finally:
        if use_tws:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    return spark.sql(
        "SELECT user_id, ts, event_id, value, record_rank "
        "FROM record_highs_sink"
    )


RECORD_HIGHS_ORACLE = """
WITH e AS (
  SELECT user_id, ts, event_id, value,
         max(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           AS prev_max
  FROM events
)
SELECT user_id, ts, event_id, value,
       CAST(row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)
            AS INTEGER) AS record_rank
FROM (SELECT * FROM e WHERE prev_max IS NULL OR value > prev_max)
"""

SPECS["streaming_record_highs"] = QuerySpec(
    streaming_record_highs, RECORD_HIGHS_ORACLE,
    "§2.9 transformWithStateInPandas (StatefulProcessor/ValueState)",
)
