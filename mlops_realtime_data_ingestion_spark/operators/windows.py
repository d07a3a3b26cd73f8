"""Event-time windowed aggregation — the reference's one production query.

Reference parity (SURVEY.md §2.4, §2.8): PyFlink tumbling window at
resources/flink/main.py:105-120 —
``Tumble.over(lit(1).minute).on(col("tx_time")).alias("tx_minute")``
then ``count(hash), sum(fee), avg(fee)`` — with a 60 s watermark
(main.py:77). ``tumbling_agg`` is the engine's only spelling of that
feature: the streaming pipeline calls it on its watermarked bronze
stream (``StreamingPipeline.aggregated``) and the gap backfill on its
gap-filtered bronze rows (``backfill_gaps``), so stream and batch share
one definition.

Scale note: a windowed group-by is one shuffle keyed on the window
bucket. Partial (map-side) aggregation means each input partition
contributes at most one row per (window) key to the shuffle — at
100 TB with 1-minute buckets the shuffle volume is tiny regardless of
input size. No collect, no driver state.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = ["tumbling_agg", "session_agg"]


def tumbling_agg(
    df: DataFrame, ts_col: str, key_col: str, val_col: str, duration: str = "1 minute"
) -> DataFrame:
    """A1-A5: 1-minute tumbling window -> count/sum/avg.

    Output columns follow agg-fg-schema.json:4-28
    (tx_minute, total_nb_trx_1min, total_fee_1min, avg_fee_1min).
    """
    return (
        df.groupBy(F.window(F.col(ts_col), duration).alias("w"))
        .agg(
            F.count(key_col).alias("total_nb_trx_1min"),
            F.sum(val_col).alias("total_fee_1min"),
            F.avg(val_col).alias("avg_fee_1min"),
        )
        .select(
            F.col("w.start").alias("tx_minute"),
            "total_nb_trx_1min",
            "total_fee_1min",
            "avg_fee_1min",
        )
    )


def session_agg(
    df: DataFrame, ts_col: str, key_col: str, gap: str = "5 minutes"
) -> DataFrame:
    """Session window per key — gap-based, Spark-native."""
    return (
        df.groupBy(key_col, F.session_window(F.col(ts_col), gap).alias("w"))
        .agg(F.count("*").alias("n_events"))
        .select(key_col, F.col("w.start").alias("session_start"), F.col("w.end").alias("session_end"), "n_events")
    )
