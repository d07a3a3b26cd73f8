"""SparkSession construction.

One builder for the whole engine. Local test profile mirrors the
driver's harness (``local[$SPARK_GRAFT_CPUS]``); the same config block
is what we would ship to a 1000-executor cluster minus the ``master``
and memory knobs:

- AQE on (runtime coalesce, skew-join splitting) — at 100 TB the
  static ``spark.sql.shuffle.partitions`` is only a starting point and
  AQE re-plans per-stage from observed sizes.
- UTC session timezone so event-time semantics are engine-independent
  (the reference converts epoch seconds with ``TO_TIMESTAMP(
  FROM_UNIXTIME(time))``, resources/flink/main.py:71 — wall-clock UTC).
- Arrow enabled: every Python-side exchange (pandas UDFs, mapInPandas
  in the multimodal path) is Arrow-batched, never row-at-a-time.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

__all__ = ["get_spark", "stop_spark", "hard_reset_jvm"]


def get_spark(
    app_name: str = "mlops_realtime_data_ingestion_spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    ``SPARK_GRAFT_CPUS`` controls local parallelism (driver contract);
    shuffle partitions default to the core count — correct for local
    mode, and on a real cluster this line is replaced by a value sized
    so that each shuffle partition holds ~128-200 MB of the largest
    stage's data (AQE coalesces down from there).
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus)
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.shuffle.spill.compress", "true")
        # 8g default, measured: raising to 16g slowed SHORT queries
        # 15-25% across the board (larger G1 young gen = slower minor
        # GC churn; A/B'd on tpch_q1 1.29 vs 1.52 s at sf0.1). The one
        # observed 8g failure (GCLocker allocation retries in the
        # round-7 100x containment sweep) was caused by the
        # pre-adaptive-prefix plan's 46M-pair distinct, which no
        # longer exists (99k candidates now). Heavy one-off jobs can
        # still raise SPARK_GRAFT_DRIVER_MEM; on a real cluster this
        # knob is per-executor and sized with the partition-bytes
        # budget instead.
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        # JDK 17 default ReservedCodeCacheSize is 240 MB. A long bench
        # process compiles thousands of whole-stage-codegen classes;
        # when the code cache saturates, HotSpot's sweeper churns and
        # can disable the JIT entirely ("CodeCache is full") — hot
        # paths then run INTERPRETED: a multiplicative CPU-only
        # slowdown with zero spill and zero GC, exactly the round-10
        # dedup_cdc_chunks episode signature (SCALE.md round 11). 512m
        # is headroom, not a fix — bench.py starts each scale section
        # in a fresh JVM, so no section inherits a full code cache.
        # Applies only when this process
        # LAUNCHES the JVM (pyspark passes builder confs to
        # spark-submit at gateway launch); a no-op on getOrCreate
        # against a live context, like driver memory above.
        .config(
            "spark.driver.extraJavaOptions",
            os.environ.get(
                "SPARK_GRAFT_DRIVER_JAVA_OPTS", "-XX:ReservedCodeCacheSize=512m"
            ),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.parquet.filterPushdown", "true")
        # The driver's testdata stores events.ts as TIMESTAMP(NANOS),
        # which the Spark parquet reader rejects; read nanos as long and
        # convert in sources.batch.load_table.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Local-profile line, like master: without native libhadoop the
        # default FileContext checkpoint manager's rename forks
        # `readlink` (getFileLinkStatus on the source and destination of
        # the file and of its .crc, 8 forks per file) on every offsets,
        # commits, source-log, sink-log and state write. On a local path
        # both managers write a temp file and rename it (FileContext
        # checks the destination then renames, non-atomic; FileSystem
        # checks exists then ChecksumFileSystem.rename, POSIX renames of
        # the file and its .crc), so the guarantees are the same.
        # Session-wide because a source log is built from the session
        # that called readStream. Checksums stay on. The manager is not
        # recorded in a checkpoint, so old checkpoints resume. A cluster
        # on HDFS or an object store keeps Spark's default.
        .config(
            "spark.sql.streaming.checkpointFileManagerClass",
            "org.apache.spark.sql.execution.streaming.checkpointing."
            "FileSystemBasedCheckpointFileManager",
        )
    )
    if extra_conf:
        # Applied at BUILDER time so static app configs (spark.ui.*)
        # take effect when this call creates the context. getOrCreate
        # ignores builder configs when a context already exists —
        # callers needing a static conf must stop_spark() first
        # (bench.py's per-scale _fresh_session does).
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    if extra_conf:
        import warnings

        for k, v in extra_conf.items():
            try:
                spark.conf.set(k, v)
            except Exception as e:
                # Only the static-conf-on-a-live-context failure is
                # expected (the builder path covered those keys when
                # this call created the context). Anything else —
                # typo'd key, invalid value — must not be swallowed
                # silently: the caller believes the setting applied
                # (ADVICE r10).
                if "Cannot modify the value" in str(e):
                    continue
                warnings.warn(
                    f"spark conf {k!r}={v!r} not applied: {e}",
                    RuntimeWarning,
                    stacklevel=2,
                )
    spark.sparkContext.setLogLevel("WARN")
    return spark


def stop_spark() -> None:
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()


def hard_reset_jvm() -> None:
    """Stop the session AND tear down the py4j gateway so the next
    ``get_spark()`` launches a brand-new JVM.

    ``stop_spark()`` alone (bench.py's per-scale ``_fresh_session``)
    resets Spark state but REUSES the JVM — JIT profile pollution,
    code-cache occupancy, and loaded generated classes all survive it.
    That is why the round-10 ``dedup_cdc_chunks`` slow episode (98.6%
    CPU, zero spill, zero GC) survived the fresh-SESSION insurance
    rerun while a fresh bare PROCESS measured 4-6x faster on the same
    input: the pathology lived in the JVM, not in Spark state
    (SCALE.md round 11). bench.py therefore starts each scale section
    in a fresh JVM (``_fresh_session(hard=True)``).

    The gateway child process is terminated explicitly — py4j's
    ``shutdown()`` closes sockets but the JVM would otherwise linger
    until the Python process exits, holding its 8g heap.
    """
    from pyspark import SparkContext

    stop_spark()
    # stop_spark() only stops the ACTIVE session; a SparkContext can be
    # alive without one (partially-built session, direct SparkContext
    # use). Left running, _active_spark_context would reference the
    # dead JVM after the gateway teardown below and the next
    # get_spark().getOrCreate() would wrap a dead context (ADVICE r11).
    try:
        sc = SparkContext._active_spark_context
        if sc is not None:
            sc.stop()
    except Exception:
        pass
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    except Exception:
        pass
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        try:
            proc.terminate()
            proc.wait(10)
        except Exception:
            pass
