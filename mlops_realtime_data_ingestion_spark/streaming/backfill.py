"""Gap backfill: repair missing feature-store windows from the bronze
archive without reprocessing the whole history.

The reference recovers from aggregation outages by replaying the whole
Kinesis retention window through Flink; with a bronze archive the
batch engine can do better: diff the minutes PRESENT in bronze against
the minutes the feature store already holds, recompute ONLY the
missing windows with the streaming aggregation's own definition
(``tumbling_agg``, run as a batch; backfill/stream agreement is
tested), and
upsert them.  Cost tracks the gap count — bronze is scanned once with
a minute-key semi-join (partition/row-group pruning applies), the
store only for its distinct keys.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.windows import tumbling_agg
from .feature_store import FeatureStore
from .pipeline import KEY_COL, TS_COL, VAL_COL

__all__ = ["find_gaps", "backfill_gaps"]


def find_gaps(spark: SparkSession, store: FeatureStore, bronze: DataFrame) -> DataFrame:
    """Minutes with bronze data but no feature-store row."""
    expected = bronze.select(
        F.date_trunc("minute", F.col(TS_COL)).alias("tx_minute")
    ).distinct()
    if not store.exists():
        return expected
    present = store.offline(spark).select(store.key_col).distinct()
    return expected.join(
        present, expected["tx_minute"] == present[store.key_col], "left_anti"
    )


def backfill_gaps(spark: SparkSession, store: FeatureStore, bronze: DataFrame) -> int:
    """Recompute and upsert every missing minute; returns the number
    of windows repaired.  The aggregation is the pipeline's own
    ``tumbling_agg`` (the session is UTC, so a window start equals the
    ``date_trunc`` minute), restricted to gap minutes via a
    broadcast-friendly semi-join."""
    gaps = find_gaps(spark, store, bronze).persist()
    try:
        n = gaps.count()  # bounded: one count of the gap key set
        if n == 0:
            return 0
        rows = bronze.withColumn(
            "tx_minute", F.date_trunc("minute", F.col(TS_COL))
        ).join(gaps, "tx_minute", "left_semi")
        store.put_batch(tumbling_agg(rows, TS_COL, KEY_COL, VAL_COL))
        return n
    finally:
        gaps.unpersist()
