"""The continuous pipeline — the reference's six hops as TWO chained
Structured Streaming queries (SURVEY.md §3.1).

Reference chain: HTTP poll -> EventBridge -> Lambda dedup (DynamoDB
conditional put, 3 h TTL) -> Kinesis -> {Firehose raw archive, Flink
1-min window agg} -> Kinesis -> Lambda -> Feature Store. Spark form:

  query 1 (ingest):  source -> withWatermark(3h)
                            -> dropDuplicatesWithinWatermark(hash)
                            -> bronze append sink (S8 raw archive)
  query 2 (aggregate): readStream(bronze) -> withWatermark(60s)
                            -> groupBy(window 1min).agg(count,sum,avg)
                            -> foreachBatch FeatureStore.put_batch (S9)

Two queries, not one: a query may have several watermark operators,
but it has one global watermark (their minimum by default,
``spark.sql.streaming.multipleWatermarkPolicy``), and the reference
genuinely runs two different event-time horizons — 3 h dedup TTL
(data-ingestion-stack.ts:75) vs 60 s window lateness
(resources/flink/main.py:77) — which cannot both drive emission in one
query. The bronze hop between them is the exact analogue of the
reference's Kinesis "ingestion" stream between the dedup Lambda and
Flink — and doubles as the raw archive (Firehose->S3,
data-ingestion-stack.ts:102-122).

Semantics mapping (SURVEY.md §2.8):
- T1 watermark 60 s: late rows beyond it are dropped from windows.
- T6 dedup TTL 3 h: dropDuplicatesWithinWatermark state expires with
  the 3 h watermark — DynamoDB TTL minus the extra service.
- T5 exactly-once: checkpointed offsets + idempotent keyed put.
- T8 restart: same checkpointLocation resumes from the last commit.
- T3 idle-source timeout: not needed — micro-batch watermarks advance
  from observed max event time per batch (documented delta).

Scale: each query runs its stateful operator on ``STATE_PARTITIONS``
(one) state partitions. The reference's traffic is about 400 tx/min
(BASELINE.md), so 3 h of dedup state is about 72k hashes, and the
window aggregate never holds more than 3 open minutes; more partitions
would only add tasks, state delta files and parquet part files to
every trigger. Spark records the count in the checkpoint when a query
first starts, and a restart keeps the recorded count, so checkpoints
written with another count still resume. The caller's
``spark.sql.shuffle.partitions`` is set only around ``start()`` and
then restored. ``foreachBatch`` runs on every trigger, so the sink
evaluates each aggregate micro-batch once: it caches the batch, counts
it, and hands the cached frame to ``put_batch`` only when it has rows.
``put_batch`` reads that frame into Arrow in one Spark job and writes
the store's parquet on the driver, so a put pays no per-call code
generation, shuffle or Hadoop commit; the store holds one row per
minute key (about 525k rows for a year of backfill), which keeps the
put driver-sized.
Bronze decouples the two stages' backpressure. No driver state
anywhere.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T
from pyspark.sql.streaming import DataStreamWriter, StreamingQuery

from ..operators.windows import tumbling_agg
from .feature_store import FeatureStore

__all__ = ["StreamingPipeline", "PipelineConfig"]

STATE_PARTITIONS = 1  # ~400 tx/min: 3 h of dedup is ~72k hashes, the window <= 3 open minutes
# the transaction's dedup key, event time and fee (resources/flink/main.py:105-120)
KEY_COL, TS_COL, VAL_COL = "hash", "tx_time", "fee"
DEDUP_WATERMARK = "3 hours"  # T6: data-ingestion-stack.ts:75


@dataclass
class PipelineConfig:
    feature_path: str
    checkpoint_root: str
    bronze_path: str
    agg_watermark: str = "60 seconds"  # T1: resources/flink/main.py:77
    window: str = "1 minute"           # T2: resources/flink/main.py:108-112


class StreamingPipeline:
    def __init__(self, config: PipelineConfig) -> None:
        self.config = config
        self.store = FeatureStore(config.feature_path)
        self._bronze_schema: T.StructType | None = None

    # -- stage transforms (independently testable) ---------------------
    def deduped(self, source: DataFrame) -> DataFrame:
        """P1/J1: exactly-once within the 3 h horizon."""
        return source.withWatermark(
            TS_COL, DEDUP_WATERMARK
        ).dropDuplicatesWithinWatermark([KEY_COL])

    def aggregated(self, bronze: DataFrame) -> DataFrame:
        """A1-A5 on the deduped stream; append-mode emission when the
        watermark passes the window end (Flink finalized windows)."""
        c = self.config
        return tumbling_agg(
            bronze.withWatermark(TS_COL, c.agg_watermark), TS_COL, KEY_COL, VAL_COL, c.window
        )

    # -- query 1: dedup -> bronze --------------------------------------
    def start_ingest(self, source: DataFrame, available_now: bool = False) -> StreamingQuery:
        c = self.config
        self._bronze_schema = source.schema
        writer = (
            self.deduped(source)
            .writeStream.format("parquet")
            .option("path", c.bronze_path)
            .option("checkpointLocation", f"{c.checkpoint_root}/bronze")
            .outputMode("append")
        )
        if available_now:
            writer = writer.trigger(availableNow=True)
        return _start(source.sparkSession, writer)

    # -- query 2: bronze -> windowed agg -> feature store ---------------
    def start_aggregate(self, spark: SparkSession, available_now: bool = False) -> StreamingQuery:
        c = self.config
        schema = self._bronze_schema or spark.read.parquet(c.bronze_path).schema
        bronze = spark.readStream.schema(schema).parquet(c.bronze_path)

        def upsert(batch: DataFrame, batch_id: int) -> None:
            # one evaluation of the stateful stage: the count fills the
            # cache that put_batch then reads
            batch.persist()
            try:
                if batch.count() == 0:
                    return
                self.store.put_batch(batch)
            finally:
                batch.unpersist()

        writer = (
            self.aggregated(bronze)
            .writeStream.foreachBatch(upsert)
            .outputMode("append")
            .option("checkpointLocation", f"{c.checkpoint_root}/features")
        )
        if available_now:
            writer = writer.trigger(availableNow=True)
        return _start(spark, writer)

    # -- the whole job ---------------------------------------------------
    def run(
        self, source: DataFrame, available_now: bool = True, timeout_s: float = 300
    ) -> tuple[StreamingQuery, StreamingQuery]:
        """availableNow drains the backlog stage-by-stage and stops
        (test/replay mode), raising if a stage fails or is still running
        after ``timeout_s`` — the aggregate never starts over a partial
        bronze; otherwise both queries run continuously. Returns the
        (ingest, aggregate) query handles."""
        spark = source.sparkSession
        ingest_q = self.start_ingest(source, available_now)
        if not available_now:
            return ingest_q, self.start_aggregate(spark, available_now=False)
        _drain(ingest_q, timeout_s)
        agg_q = self.start_aggregate(spark, available_now=True)
        _drain(agg_q, timeout_s)
        return ingest_q, agg_q


def _start(spark: SparkSession, writer: DataStreamWriter) -> StreamingQuery:
    """Start ``writer`` with ``STATE_PARTITIONS`` shuffle partitions.
    The query clones the session conf when it is constructed inside
    ``start()``, so the caller's value is restored right after."""
    conf = spark.conf
    prev = conf.get("spark.sql.shuffle.partitions")
    conf.set("spark.sql.shuffle.partitions", STATE_PARTITIONS)
    try:
        return writer.start()
    finally:
        conf.set("spark.sql.shuffle.partitions", prev)


def _drain(query: StreamingQuery, timeout_s: float) -> None:
    """Wait for an availableNow query to finish; a query still running
    after ``timeout_s`` is stopped and raises ``TimeoutError``, a failed
    one re-raises its exception."""
    if not query.awaitTermination(timeout_s):
        query.stop()
        raise TimeoutError(
            f"streaming query {query.name or query.id} still running after {timeout_s}s"
        )
    exc = query.exception()
    if exc is not None:
        raise exc
