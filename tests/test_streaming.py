"""Golden streaming tests (SURVEY.md §5 strategy): deterministic
event files through the windowed pipeline — window rows, dedup,
idempotent upsert, checkpoint restart, late-data drop."""

from __future__ import annotations

import glob
import json
import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter

from mlops_realtime_data_ingestion_spark.streaming.feature_store import FeatureStore
from mlops_realtime_data_ingestion_spark.streaming.pipeline import (
    PipelineConfig,
    StreamingPipeline,
)
from mlops_realtime_data_ingestion_spark.sources.streaming import json_file_stream

BASE_US = 1704067200_000_000  # 2024-01-01 00:00:00 UTC in micros


def _event(eid: int, minute: float, value: float = 10.0) -> dict:
    return {
        "event_id": eid,
        "ts_micros": BASE_US + int(minute * 60_000_000),
        "user_id": eid % 5,
        "event_type": "view",
        "value": value,
        "props": "{}",
    }


def _write_jsonl(path: str, rows: list[dict]) -> None:
    with open(path, "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")


def _typed_stream(spark, src_dir: str):
    """events JSONL -> the pipeline's (hash, tx_time, fee) shape."""
    raw = json_file_stream(spark, src_dir)
    return raw.select(
        F.col("event_id").cast("string").alias("hash"),
        F.timestamp_micros(F.col("ts_micros")).alias("tx_time"),
        F.col("value").alias("fee"),
        "user_id",
        "event_type",
    )


def _pipeline(tmp_path, name: str) -> StreamingPipeline:
    return StreamingPipeline(
        PipelineConfig(
            feature_path=str(tmp_path / f"{name}_features"),
            checkpoint_root=str(tmp_path / f"{name}_ckpt"),
            bronze_path=str(tmp_path / f"{name}_bronze"),
        )
    )


def test_end_to_end_window_agg_and_dedup(spark, tmp_path):
    src = tmp_path / "src1"
    src.mkdir()
    # minutes 0..9: 3 events per minute; event 5 duplicated 3x (P1)
    rows = []
    eid = 0
    for m in range(10):
        for j in range(3):
            rows.append(_event(eid, m + j * 0.01, value=10.0 + m))
            eid += 1
    rows.append(_event(5, 1.02, 11.0))  # dup of eid=5
    rows.append(_event(5, 1.02, 11.0))
    # sentinel far ahead so the watermark finalizes minutes 0..9
    rows.append(_event(999, 30.0, 1.0))
    _write_jsonl(str(src / "a.jsonl"), rows)

    pipe = _pipeline(tmp_path, "e2e")
    pipe.run(_typed_stream(spark, str(src)), available_now=True)

    # bronze (S8) got the post-dedup stream: 30 + sentinel
    bronze = spark.read.parquet(pipe.config.bronze_path)
    assert bronze.count() == 31
    assert bronze.select("hash").distinct().count() == 31

    # finalized windows: every minute 0..9 has exactly 3 events
    online = pipe.store.online_view(spark)
    got = {
        r["tx_minute"].minute: (r["total_nb_trx_1min"], r["total_fee_1min"])
        for r in online.collect()
    }
    for m in range(10):
        assert got[m] == (3, 3 * (10.0 + m)), f"minute {m}: {got.get(m)}"


def test_checkpoint_restart_and_idempotent_upsert(spark, tmp_path):
    src = tmp_path / "src2"
    src.mkdir()
    rows1 = [_event(i, i * 0.3, 5.0) for i in range(20)]  # minutes 0..5.7
    rows1.append(_event(900, 20.0, 1.0))  # advance watermark
    _write_jsonl(str(src / "a.jsonl"), rows1)

    pipe = _pipeline(tmp_path, "restart")
    stream = _typed_stream(spark, str(src))
    pipe.run(stream, available_now=True)
    n_bronze_1 = spark.read.parquet(pipe.config.bronze_path).count()
    assert n_bronze_1 == 21

    # restart with one more file: old events must NOT be reprocessed
    rows2 = [_event(1000 + i, 21 + i * 0.3, 7.0) for i in range(10)]
    rows2.append(_event(901, 40.0, 1.0))
    _write_jsonl(str(src / "b.jsonl"), rows2)
    pipe2 = _pipeline(tmp_path, "restart")  # same paths/checkpoint
    pipe2.run(_typed_stream(spark, str(src)), available_now=True)

    bronze = spark.read.parquet(pipe.config.bronze_path)
    assert bronze.count() == 32  # 21 + 11, no reprocessing (T8)
    # upsert stayed idempotent: one online row per window (T5)
    online = pipe2.store.online_view(spark)
    assert online.groupBy("tx_minute").count().filter("count > 1").count() == 0


def test_late_data_dropped_beyond_watermark(spark, tmp_path):
    src = tmp_path / "src3"
    src.mkdir()
    rows1 = [_event(i, 0.1 + i * 0.01, 10.0) for i in range(5)]  # minute 0
    rows1.append(_event(500, 10.0, 1.0))  # watermark -> ~minute 9
    _write_jsonl(str(src / "a.jsonl"), rows1)

    pipe = _pipeline(tmp_path, "late")
    pipe.run(_typed_stream(spark, str(src)), available_now=True)
    online1 = {
        r["tx_minute"].minute: r["total_nb_trx_1min"]
        for r in pipe.store.online_view(spark).collect()
    }
    assert online1[0] == 5

    # a late event for minute 0 arrives after the watermark passed (T1)
    rows2 = [_event(600, 0.5, 99.0), _event(601, 11.0, 1.0)]
    _write_jsonl(str(src / "b.jsonl"), rows2)
    pipe.run(_typed_stream(spark, str(src)), available_now=True)

    online2 = {
        r["tx_minute"].minute: r["total_nb_trx_1min"]
        for r in pipe.store.online_view(spark).collect()
    }
    assert online2[0] == 5  # unchanged: late row dropped from the window


def _keyed(spark, rows):
    """(key, et, v) feature rows with timestamp keys: the store
    partitions by the key's year/month/day/hour."""
    return spark.createDataFrame(rows, "k_str string, et double, v double").select(
        F.to_timestamp("k_str").alias("k"), "et", "v"
    )


A, B = "2024-01-01 00:01:00", "2024-01-01 01:02:00"


def test_feature_store_upsert_and_point_read(spark, tmp_path):
    store = FeatureStore(str(tmp_path / "fs"), key_col="k", event_time_col="et")
    store.put_batch(_keyed(spark, [(A, 1.0, 10.0), (B, 1.0, 20.0)]))
    store.put_batch(_keyed(spark, [(A, 2.0, 11.0)]))
    online = {str(r["k"]): r["v"] for r in store.online_view(spark).collect()}
    assert online == {A: 11.0, B: 20.0}  # last event_time wins (T5)
    assert store.offline(spark).count() == 3  # history append-only
    rec = store.get_record(spark, A)
    assert len(rec) == 1 and rec[0]["v"] == 11.0


def test_feature_store_compaction(spark, tmp_path):
    store = FeatureStore(str(tmp_path / "fsc"), key_col="k", event_time_col="et")
    for i in range(5):
        store.put_batch(_keyed(spark, [(f"2024-01-01 0{i % 2}:0{i}:00", float(i), float(i))]))
    before = store.offline(spark).collect()
    store.compact(spark, target_bytes=1 << 30)
    after = store.offline(spark).collect()
    assert sorted(map(tuple, before)) == sorted(map(tuple, after))
    part_dirs = glob.glob(os.path.join(store.path, "year=*", "month=*", "day=*", "hour=*"))
    assert len(part_dirs) == 2  # hours 0 and 1
    for d in part_dirs:
        files = [f for f in os.listdir(d) if f.endswith(".parquet")]
        assert len(files) == 1  # each partition coalesced to ceil(size/target) = 1


def test_monitoring_alarm_and_threshold(spark):
    from mlops_realtime_data_ingestion_spark.streaming.monitoring import (
        alarm_state,
        update_threshold,
    )

    rows = [
        ("wql", "prod", v, f"2024-01-01 0{i}:00:00")
        for i, v in enumerate([0.1, 0.3, 0.31, 0.32, 0.1, 0.4])
    ]
    metrics = spark.createDataFrame(rows, "metric string, stage string, value double, ts string").withColumn(
        "ts", F.to_timestamp("ts")
    )
    alarms = alarm_state(metrics, "wql", threshold=0.24, consecutive_to_alarm=3).collect()
    assert len(alarms) == 1 and alarms[0]["island_len"] == 3

    assert update_threshold(0.2, 0.24, 0.5) == pytest.approx(0.22)
    assert update_threshold(0.3, 0.24, 0.5) == 0.24  # no update on regression


def test_replay_timeout_raises_before_aggregate(spark, tmp_path):
    """A stage still running at the timeout is stopped and raises; the
    aggregate never runs over a partial bronze."""
    src = tmp_path / "src_timeout"
    src.mkdir()
    _write_jsonl(str(src / "a.jsonl"), [_event(i, i * 0.1) for i in range(20)])

    pipe = _pipeline(tmp_path, "timeout")
    with pytest.raises(TimeoutError):
        pipe.run(_typed_stream(spark, str(src)), available_now=True, timeout_s=0.001)
    assert spark.streams.active == []
    assert not os.path.exists(os.path.join(pipe.config.checkpoint_root, "features"))


def test_one_state_partition_caller_conf_untouched(spark, tmp_path, monkeypatch):
    """Each query records one state partition in its checkpoint, and the
    caller's shuffle-partition setting survives both a run and a failed
    start."""
    assert spark.conf.get("spark.sql.shuffle.partitions") == "8"
    src = tmp_path / "src_parts"
    src.mkdir()
    rows = [_event(i, i * 0.5) for i in range(12)] + [_event(99, 20.0)]
    _write_jsonl(str(src / "a.jsonl"), rows)

    pipe = _pipeline(tmp_path, "parts")
    pipe.run(_typed_stream(spark, str(src)), available_now=True)
    assert spark.conf.get("spark.sql.shuffle.partitions") == "8"
    offsets = sorted(glob.glob(os.path.join(pipe.config.checkpoint_root, "*", "offsets", "0")))
    assert [p.split(os.sep)[-3] for p in offsets] == ["bronze", "features"]
    for path in offsets:
        with open(path) as f:
            assert '"spark.sql.shuffle.partitions":"1"' in f.read(), path

    def fail_start(self):
        raise RuntimeError("start failed")

    monkeypatch.setattr(DataStreamWriter, "start", fail_start)
    with pytest.raises(RuntimeError, match="start failed"):
        pipe.start_ingest(_typed_stream(spark, str(src)))
    assert spark.conf.get("spark.sql.shuffle.partitions") == "8"
    with pytest.raises(RuntimeError, match="start failed"):
        pipe.start_aggregate(spark)
    assert spark.conf.get("spark.sql.shuffle.partitions") == "8"


def test_sink_gets_cached_non_empty_batches_one_version_each(spark, tmp_path):
    """Every put_batch call receives a cached, non-empty aggregate batch
    and commits exactly one store version with at least one file."""
    src = tmp_path / "src_sink"
    src.mkdir()
    pipe = _pipeline(tmp_path, "sink")
    calls = []
    put = pipe.store.put_batch

    def recording_put(df):
        calls.append((df.is_cached, df.count()))
        put(df)

    pipe.store.put_batch = recording_put
    # three restarts on one checkpoint, each finalizing new minutes
    for k in range(3):
        rows = [_event(100 * k + i, 10 * k + i * 0.4) for i in range(10)]
        rows.append(_event(100 * k + 99, 10 * k + 8.0))
        _write_jsonl(str(src / f"{k}.jsonl"), rows)
        pipe.run(_typed_stream(spark, str(src)), available_now=True)

    assert len(calls) >= 3
    assert all(cached and n > 0 for cached, n in calls), calls
    versions = pipe.store.versions()
    assert len(versions) == len(calls)
    files = [len(pipe.store.backend.files_as_of(pipe.store.path, v)) for v in versions]
    assert all(b > a for a, b in zip([0, *files], files)), files


def test_restart_keeps_checkpointed_partition_count(spark, tmp_path, monkeypatch):
    """A checkpoint written with another partition count resumes with
    that count, and the resumed run still finalizes its windows."""
    from mlops_realtime_data_ingestion_spark.streaming import pipeline as pipeline_mod

    src = tmp_path / "src_resume"
    src.mkdir()
    _write_jsonl(str(src / "a.jsonl"), [_event(i, i * 0.3, 5.0) for i in range(10)] + [_event(90, 10.0)])
    with monkeypatch.context() as m:
        m.setattr(pipeline_mod, "STATE_PARTITIONS", 3)
        _pipeline(tmp_path, "resume").run(_typed_stream(spark, str(src)), available_now=True)

    _write_jsonl(str(src / "b.jsonl"), [_event(100 + i, 11 + i * 0.3, 7.0) for i in range(10)] + [_event(91, 20.0)])
    pipe = _pipeline(tmp_path, "resume")
    pipe.run(_typed_stream(spark, str(src)), available_now=True)
    for query in ("bronze", "features"):
        offsets = os.path.join(pipe.config.checkpoint_root, query, "offsets")
        last = max(os.listdir(offsets), key=lambda n: int(n) if n.isdigit() else -1)
        with open(os.path.join(offsets, last)) as f:
            assert '"spark.sql.shuffle.partitions":"3"' in f.read(), (query, last)
    got = {r["tx_minute"].minute: r["total_nb_trx_1min"] for r in pipe.store.online_view(spark).collect()}
    assert got[0] == 4 and got[11] == 4, got


_CHECKPOINTING = "org.apache.spark.sql.execution.streaming.checkpointing."
_MANAGER_CONF = "spark.sql.streaming.checkpointFileManagerClass"


def test_filesystem_checkpoint_manager_keeps_checksums(spark, tmp_path):
    """The session resolves checkpoint paths to the FileSystem-based
    manager, and a run still writes Hadoop's and Spark's checksum files."""
    src = tmp_path / "src_mgr"
    src.mkdir()
    _write_jsonl(str(src / "a.jsonl"), [_event(i, i * 0.5) for i in range(6)] + [_event(99, 10.0)])
    pipe = _pipeline(tmp_path, "mgr")
    pipe.run(_typed_stream(spark, str(src)), available_now=True)

    chk = os.path.join(pipe.config.checkpoint_root, "bronze")
    jvm = spark._jvm
    mgr = jvm.org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.create(
        jvm.org.apache.hadoop.fs.Path(chk), spark._jsparkSession.sessionState().newHadoopConf()
    )
    if mgr.getClass().getName() == _CHECKPOINTING + "ChecksumCheckpointFileManager":
        field = mgr.getClass().getDeclaredField("underlyingFileMgr")
        field.setAccessible(True)
        mgr = field.get(mgr)
    assert mgr.getClass().getName() == _CHECKPOINTING + "FileSystemBasedCheckpointFileManager"

    for name in ("offsets/.0.crc", "state/0/0/1.delta.crc", "state/0/0/.1.delta.crc"):
        assert os.path.isfile(os.path.join(chk, name)), name


def test_restart_from_filecontext_checkpoint(spark, tmp_path):
    """A checkpoint written under Spark's default FileContext manager
    resumes under the session's manager: a restart with no new input
    commits no store version, and new input finalizes each new window
    exactly once."""
    src = tmp_path / "src_fc"
    src.mkdir()
    _write_jsonl(str(src / "a.jsonl"), [_event(i, i * 0.3, 5.0) for i in range(10)] + [_event(90, 10.0)])
    prev = spark.conf.get(_MANAGER_CONF)
    spark.conf.set(_MANAGER_CONF, _CHECKPOINTING + "FileContextBasedCheckpointFileManager")
    try:
        _pipeline(tmp_path, "fc").run(_typed_stream(spark, str(src)), available_now=True)
    finally:
        spark.conf.set(_MANAGER_CONF, prev)

    pipe = _pipeline(tmp_path, "fc")
    versions = pipe.store.versions()
    assert versions
    pipe.run(_typed_stream(spark, str(src)), available_now=True)
    assert pipe.store.versions() == versions

    _write_jsonl(str(src / "b.jsonl"), [_event(100 + i, 11 + i * 0.3, 7.0) for i in range(10)] + [_event(91, 20.0)])
    pipe.run(_typed_stream(spark, str(src)), available_now=True)
    assert len(pipe.store.versions()) > len(versions)
    history = pipe.store.offline(spark).groupBy("tx_minute").agg(
        F.count("*").alias("emits"), F.first("total_nb_trx_1min").alias("n")
    )
    got = {r["tx_minute"].minute: (r["emits"], r["n"]) for r in history.collect()}
    assert got == {0: (1, 4), 1: (1, 3), 2: (1, 3), 10: (1, 1), 11: (1, 4), 12: (1, 3), 13: (1, 3)}, got
