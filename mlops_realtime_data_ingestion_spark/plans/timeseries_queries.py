"""Time-series / ML-prep / monitoring queries (SURVEY.md §2.5, A8,
A10-A12, §3.3): ordered splits, expanding windows, forecast index,
ordered gather, RMSE + weighted quantile loss, consecutive-breach
alarm, threshold update rule.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.relational import consecutive_islands
from ..operators.timeseries import (
    expanding_windows,
    forecast_index,
    ordered_gather,
    tail_split,
)
from ..sources.batch import load_table
from .determinism import davg, davg_sql
from .spec import QuerySpec


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "events")


def w1_train_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1: last 100 points per user series tagged 'test'
    (preprocess.py:119-121), partitioned per series key."""
    ev = _events(spark, sf_dir)
    return tail_split(
        ev.select("user_id", "ts", "event_id", "value"),
        [F.col("ts"), F.col("event_id")],
        test_length=100,
        series_cols=["user_id"],
    )


W1_ORACLE = """
SELECT user_id, ts, event_id, value,
       CASE WHEN row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) <= 100
            THEN 'test' ELSE 'train' END AS split
FROM events
"""


def w2_expanding_validation_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W2: N=3 expanding cutoffs of each user's series
    (preprocess.py:129-146), L=50; returns per-(user,k) sizes so the
    result is compact at any SF."""
    ev = _events(spark, sf_dir)
    exp = expanding_windows(
        ev.select("user_id", "ts", "event_id", "value"),
        [F.col("ts"), F.col("event_id")],
        n_windows=3,
        window_length=50,
        series_cols=["user_id"],
    )
    return exp.groupBy("user_id", "k").agg(
        F.count("*").alias("n_points"),
        davg("value").alias("avg_value"),
    )


W2_ORACLE = f"""
WITH ranked AS (
  SELECT user_id, value,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn,
         count(*)    OVER (PARTITION BY user_id) AS n
  FROM events
), fanned AS (
  SELECT user_id, value, rn, n, k
  FROM ranked, (SELECT unnest(range(1, 4)) AS k) ks
  WHERE rn <= n - (3 - k) * 50
)
SELECT user_id, CAST(k AS INTEGER) AS k,
       count(*) AS n_points,
       {davg_sql('value')} AS avg_value
FROM fanned
GROUP BY 1, 2
"""


def w4_forecast_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W4: next-5-minute forecast index per user series
    (data_collection/utils.py:86-88)."""
    ev = _events(spark, sf_dir)
    return forecast_index(ev, "ts", periods=5, step="1 minute", series_cols=["user_id"])


W4_ORACLE = """
SELECT user_id,
       max_ts + INTERVAL 1 MINUTE * s.i AS forecast_ts
FROM (SELECT user_id, max(ts) AS max_ts FROM events GROUP BY 1) m,
     (SELECT unnest(range(1, 6)) AS i) s
"""


def a8_ordered_gather(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A8: the DeepAR target array — full ordered value series per
    user (preprocess.py:123-155), serialized to a comparable string."""
    ev = _events(spark, sf_dir)
    gathered = ordered_gather(
        ev, order_cols=["ts", "event_id"], value_col="value", series_cols=["user_id"]
    )
    return gathered.select(
        "user_id",
        F.concat_ws(
            ",", F.transform(F.col("target"), lambda v: F.round(v, 2).cast("string"))
        ).alias("series"),
        F.size("target").cast("long").alias("series_len"),
    )


A8_ORACLE = """
SELECT user_id,
       string_agg(CAST(round(value, 2) AS VARCHAR), ',' ORDER BY ts, event_id) AS series,
       count(*) AS series_len
FROM events
GROUP BY 1
"""


def wf_rank_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking/offset window functions (SURVEY.md §2.5 note: absent
    from the reference, engine-native surface)."""
    ev = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wv = Window.partitionBy("user_id").orderBy(F.col("event_id"))
    return ev.select(
        "user_id",
        "event_id",
        "value",
        F.row_number().over(w).cast("long").alias("rn"),
        F.lag("value").over(w).alias("prev_value"),
        F.lead("value").over(w).alias("next_value"),
        F.rank().over(wv).cast("long").alias("id_rank"),
        F.dense_rank().over(wv).cast("long").alias("id_dense_rank"),
        F.ntile(4).over(w).cast("long").alias("quartile"),
    )


WF_RANK_ORACLE = """
SELECT user_id, event_id, value,
       row_number() OVER w AS rn,
       lag(value)   OVER w AS prev_value,
       lead(value)  OVER w AS next_value,
       rank()       OVER (PARTITION BY user_id ORDER BY event_id) AS id_rank,
       dense_rank() OVER (PARTITION BY user_id ORDER BY event_id) AS id_dense_rank,
       ntile(4)     OVER w AS quartile
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
"""


def wf_running_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative aggregation over event time — decimal-backed so the
    prefix sums are exact (see plans/determinism)."""
    ev = _events(spark, sf_dir)
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return ev.select(
        "user_id",
        "event_id",
        F.sum(F.col("value").cast("decimal(18,4)")).over(w).cast("double").alias("running_value"),
        F.count("*").over(w).alias("running_n"),
    )


WF_RUNNING_ORACLE = """
SELECT user_id, event_id,
       CAST(sum(CAST(value AS DECIMAL(18,4))) OVER w AS DOUBLE) AS running_value,
       count(*) OVER w AS running_n
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING)
"""


def wf_rolling_time_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-customer rolling 30-DAY order total — a RANGE (time-based)
    frame, not a ROWS frame: the window is defined by event-time
    distance, so gaps and same-timestamp peers behave correctly
    (all peers of the current timestamp are included).

    Spark's range frame needs a numeric order key -> epoch seconds.
    Decimal-backed sum keeps the frame aggregate exact (frames are
    sets; float summation order inside a frame is engine-private).
    Scale: one shuffle on o_custkey; each partition streams its
    ordered frame with a sliding two-pointer — no per-row rescans.
    """
    o = load_table(spark, sf_dir, "orders").withColumn(
        "epoch_s", F.unix_timestamp("o_orderdate").cast("long")
    )
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("epoch_s")
        .rangeBetween(-30 * 86400, 0)
    )
    return o.select(
        "o_orderkey",
        "o_custkey",
        "epoch_s",
        F.sum(F.col("o_totalprice").cast("decimal(18,4)"))
        .over(w)
        .cast("double")
        .alias("rolling_30d_total"),
        F.count("*").over(w).alias("rolling_30d_orders"),
    )


WF_ROLLING_RANGE_ORACLE = """
SELECT o_orderkey, o_custkey,
       CAST(floor(epoch(o_orderdate)) AS BIGINT) AS epoch_s,
       CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) OVER w AS DOUBLE) AS rolling_30d_total,
       count(*) OVER w AS rolling_30d_orders
FROM orders
WINDOW w AS (PARTITION BY o_custkey
             ORDER BY CAST(floor(epoch(o_orderdate)) AS BIGINT)
             RANGE BETWEEN 2592000 PRECEDING AND CURRENT ROW)
"""


def sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch sessionization: per-user sessions split on 30-minute
    inactivity gaps (lag -> boundary flag -> running sum), one row per
    session — the offline analogue of the engine's streaming
    session_window_agg."""
    from ..operators.timeseries import sessionize

    ev = _events(spark, sf_dir)
    return sessionize(
        ev, key_cols=["user_id"], ts_col="ts", gap_seconds=1800, tiebreak_col="event_id"
    )


SESSIONIZE_ORACLE = """
WITH e AS (
  SELECT user_id, event_id, ts, CAST(floor(epoch(ts)) AS BIGINT) AS ep
  FROM events
), flagged AS (
  SELECT user_id, event_id, ts, ep,
         CASE WHEN lag(ep) OVER w IS NULL OR ep - lag(ep) OVER w > 1800
              THEN 1 ELSE 0 END AS is_new
  FROM e
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), runs AS (
  SELECT user_id, ep,
         CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq
  FROM flagged
)
SELECT user_id, session_seq,
       min(ep) AS session_start,
       max(ep) AS session_end,
       count(*) AS n_events
FROM runs
GROUP BY user_id, session_seq
"""


def wf_first_last_nth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """first_value / last_value / nth_value over the full per-key
    frame (total order via event_id tiebreak) — the anchoring
    functions the wf_rank_lag_lead family doesn't cover."""
    ev = _events(spark, sf_dir)
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts").asc(), F.col("event_id").asc())
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return ev.select(
        "user_id",
        "event_id",
        F.first_value("value").over(w).alias("first_v"),
        F.last_value("value").over(w).alias("last_v"),
        F.nth_value("value", 3).over(w).alias("third_v"),
    )


WF_FIRST_LAST_ORACLE = """
SELECT user_id, event_id,
       first_value(value) OVER w AS first_v,
       last_value(value)  OVER w AS last_v,
       nth_value(value, 3) OVER w AS third_v
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
"""


def scd2_price_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type-2 dimension history built from the orders change log:
    each customer's order opens a validity interval for its
    total-price attribute, closed by the next order. Point-in-time
    lookups ("what was the value on date X") become range predicates
    on [valid_from, valid_to)."""
    from ..operators.scd import scd2_build

    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_orderkey",
        "o_totalprice",
        F.unix_timestamp("o_orderdate").cast("long").alias("change_ts"),
    )
    return scd2_build(
        o,
        key_cols=["o_custkey"],
        ts_col="change_ts",
        attr_cols=["o_totalprice", "o_orderkey"],
        tiebreak_col="o_orderkey",
    )


SCD2_ORACLE = """
SELECT o_custkey, o_totalprice, o_orderkey,
       change_ts AS valid_from,
       lead(change_ts) OVER w AS valid_to,
       lead(change_ts) OVER w IS NULL AS is_current
FROM (
  SELECT o_custkey, o_orderkey, o_totalprice,
         CAST(floor(epoch(o_orderdate)) AS BIGINT) AS change_ts
  FROM orders
)
WINDOW w AS (PARTITION BY o_custkey ORDER BY change_ts, o_orderkey)
"""


def metrics_rmse_wql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A10-A12: the reference's forecast evaluation (evaluate.py:73-91)
    against a persistence forecast: per-minute total value, prediction
    = previous minute's total, quantile band = prediction * 0.9/1.0/1.1
    (confidence 90 -> alpha 0.05/0.5/0.95, pipeline.py:269-275).
    Single-row metrics report (S15 shape).

    Determinism: everything stays in exact DECIMAL arithmetic via
    integer-scaled quantile losses until the final division —
    casting *derived* doubles to decimal is engine-divergent near
    rounding ties (see plans/determinism), so no double is ever
    re-quantized here. With t,p exact 4dp decimals and X=10t-9p,
    Y=t-p, Z=10t-11p:
      200*ql_0.05 = X>0 ? X   : 19*(-X)
        2*ql_0.5  = |Y|
      200*ql_0.95 = Z>0 ? 19Z : -Z
    and wQL_a = 2*sum(ql_a)/sum(|t|).
    """
    from ..operators.timeseries import lag_bucketed

    ev = _events(spark, sf_dir)
    t = F.sum(F.col("value").cast("decimal(18,4)")).alias("t")
    per_min = ev.groupBy(F.date_trunc("minute", "ts").alias("m")).agg(t)
    # lag partitioned by day bucket (monotone in m) — no global window
    d = (
        lag_bucketed(per_min, "m", "t", F.date_trunc("day", F.col("m")), out_col="p")
        .filter(F.col("p").isNotNull())
        .withColumn("x", (F.lit(10) * F.col("t") - F.lit(9) * F.col("p")).cast("decimal(28,4)"))
        .withColumn("y", (F.col("t") - F.col("p")).cast("decimal(28,4)"))
        .withColumn("z", (F.lit(10) * F.col("t") - F.lit(11) * F.col("p")).cast("decimal(28,4)"))
    )
    se = (F.col("y").cast("decimal(18,4)") * F.col("y").cast("decimal(18,4)")).alias("se")
    agg = d.select(
        "t",
        "x",
        "y",
        "z",
        se,
        F.when(F.col("x") > 0, F.col("x")).otherwise(F.lit(-19) * F.col("x")).cast("decimal(28,4)").alias("ql05x200"),
        F.abs("y").cast("decimal(28,4)").alias("ql50x2"),
        F.when(F.col("z") > 0, F.lit(19) * F.col("z")).otherwise(-F.col("z")).cast("decimal(28,4)").alias("ql95x200"),
    ).agg(
        F.count("*").alias("n"),
        F.sum("se").cast("double").alias("sse"),
        F.sum(F.abs("t")).cast("double").alias("sabs"),
        F.sum("ql05x200").cast("double").alias("s05"),
        F.sum("ql50x2").cast("double").alias("s50"),
        F.sum("ql95x200").cast("double").alias("s95"),
    )
    return agg.select(
        F.sqrt(F.col("sse") / F.col("n")).alias("rmse"),
        (F.col("s05") / (100 * F.col("sabs"))).alias("wql_0_05"),
        (F.col("s50") / F.col("sabs")).alias("wql_0_5"),
        (F.col("s95") / (100 * F.col("sabs"))).alias("wql_0_95"),
        (
            (
                F.col("s05") / (100 * F.col("sabs"))
                + F.col("s50") / F.col("sabs")
                + F.col("s95") / (100 * F.col("sabs"))
            )
            / 3
        ).alias("wql_mean"),
    )


METRICS_ORACLE = """
WITH per_min AS (
  SELECT date_trunc('minute', ts) AS m,
         sum(CAST(value AS DECIMAL(18,4))) AS t
  FROM events GROUP BY 1
), lagged AS (
  SELECT t, lag(t) OVER (ORDER BY m) AS p
  FROM per_min
  QUALIFY p IS NOT NULL
), scaled AS (
  SELECT t,
         CAST(10 * t - 9  * p AS DECIMAL(28,4)) AS x,
         CAST(t - p           AS DECIMAL(28,4)) AS y,
         CAST(10 * t - 11 * p AS DECIMAL(28,4)) AS z
  FROM lagged
), terms AS (
  SELECT t,
         CAST(y AS DECIMAL(18,4)) * CAST(y AS DECIMAL(18,4)) AS se,
         CAST(CASE WHEN x > 0 THEN x ELSE -19 * x END AS DECIMAL(28,4)) AS ql05x200,
         CAST(abs(y) AS DECIMAL(28,4))                                  AS ql50x2,
         CAST(CASE WHEN z > 0 THEN 19 * z ELSE -z END AS DECIMAL(28,4)) AS ql95x200
  FROM scaled
), sums AS (
  SELECT count(*)                    AS n,
         CAST(sum(se) AS DOUBLE)     AS sse,
         CAST(sum(abs(t)) AS DOUBLE) AS sabs,
         CAST(sum(ql05x200) AS DOUBLE) AS s05,
         CAST(sum(ql50x2) AS DOUBLE)   AS s50,
         CAST(sum(ql95x200) AS DOUBLE) AS s95
  FROM terms
)
SELECT sqrt(sse / n)        AS rmse,
       s05 / (100 * sabs)   AS wql_0_05,
       s50 / sabs           AS wql_0_5,
       s95 / (100 * sabs)   AS wql_0_95,
       (s05 / (100 * sabs) + s50 / sabs + s95 / (100 * sabs)) / 3 AS wql_mean
FROM sums
"""


def monitoring_consecutive_breach(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§3.3 alarm query: hourly event volume; breach when the hour's
    count exceeds 1.2x the overall hourly mean; alarm islands of >= 3
    consecutive breached hours (model-monitor-template.yml:786-795
    Period=3600, DatapointsToAlarm=ConsecutiveBreachToAlarm)."""
    ev = _events(spark, sf_dir)
    hourly = ev.groupBy(F.date_trunc("hour", "ts").alias("h")).agg(
        F.count("*").alias("n")
    )
    # mean over integer counts is exact in any engine
    mean_n = hourly.agg((F.sum("n") / F.count("*")).alias("m"))
    flagged = hourly.crossJoin(mean_n).withColumn(
        "breach", F.col("n") > 1.2 * F.col("m")
    )
    islands = consecutive_islands(flagged, order_col="h", flag_col="breach")
    return islands.filter(F.col("island_len") >= 3).select(
        "island_start", "island_end", "island_len"
    )


MONITORING_ORACLE = """
WITH hourly AS (
  SELECT date_trunc('hour', ts) AS h, count(*) AS n
  FROM events GROUP BY 1
), flagged AS (
  SELECT h, n, n > 1.2 * (SELECT sum(n)::DOUBLE / count(*) FROM hourly) AS breach
  FROM hourly
), grouped AS (
  SELECT h, breach,
         row_number() OVER (ORDER BY h)
       - row_number() OVER (PARTITION BY breach ORDER BY h) AS island
  FROM flagged
)
SELECT min(h) AS island_start, max(h) AS island_end, count(*) AS island_len
FROM grouped
WHERE breach
GROUP BY island
HAVING count(*) >= 3
"""


def threshold_update_rule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Threshold updater (update_monitoring_threshold.py:80-101):
    ``new_threshold = new_wql + |new_wql - old_threshold| * rate`` when
    the model improved. Demonstrated over per-event-type wQL stand-ins
    (avg value as the metric, 0.5 update rate vs a fixed old
    threshold)."""
    ev = _events(spark, sf_dir)
    per_type = ev.groupBy("event_type").agg(davg("value").alias("new_metric"))
    old_threshold = F.lit(60.0)
    rate = F.lit(0.5)
    return per_type.select(
        "event_type",
        "new_metric",
        F.when(
            F.col("new_metric") < old_threshold,
            F.col("new_metric") + F.abs(F.col("new_metric") - old_threshold) * rate,
        )
        .otherwise(old_threshold)
        .alias("new_threshold"),
    )


THRESHOLD_ORACLE = f"""
WITH per_type AS (
  SELECT event_type, {davg_sql('value')} AS new_metric
  FROM events GROUP BY 1
)
SELECT event_type, new_metric,
       CASE WHEN new_metric < 60.0
            THEN new_metric + abs(new_metric - 60.0) * 0.5
            ELSE 60.0 END AS new_threshold
FROM per_type
"""


_Z90 = "1.2815515655446004"


def forecast_seasonal_naive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§3.2 predictor stage: deterministic seasonal-naive quantile
    forecast per user series (season=5 steps, horizon=3) — the
    relational baseline any learned predictor (DeepAR pluggable via
    operators/forecast.apply_predictor) must beat. Same output shape
    the reference's endpoint serves (pipeline.py:391-404): p10/p50/p90
    per future step."""
    from ..operators.forecast import seasonal_naive_forecast

    ev = _events(spark, sf_dir)
    return seasonal_naive_forecast(
        ev,
        order=[F.col("ts"), F.col("event_id")],
        horizon=3,
        season=5,
        value_col="value",
        series_cols=["user_id"],
        ts_col="ts",
    )


FORECAST_NAIVE_ORACLE = f"""
WITH ranked AS (
  SELECT user_id, value,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn,
         count(*) OVER (PARTITION BY user_id) AS n,
         max(ts)  OVER (PARTITION BY user_id) AS last_ts
  FROM events
), diffs AS (
  SELECT user_id,
         value - lag(value, 5) OVER (PARTITION BY user_id ORDER BY rn) AS d
  FROM ranked
), sd AS (
  SELECT user_id, sqrt(greatest(0.0,
      CAST(sum(CAST(d*d AS DECIMAL(28,6))) AS DOUBLE)/count(d)
      - (CAST(sum(CAST(d AS DECIMAL(28,6))) AS DOUBLE)/count(d))
        * (CAST(sum(CAST(d AS DECIMAL(28,6))) AS DOUBLE)/count(d)))) AS sdv
  FROM diffs WHERE d IS NOT NULL GROUP BY 1
), steps AS (SELECT unnest(range(1, 4)) AS h),
meta AS (SELECT DISTINCT user_id, n, last_ts FROM ranked),
fc AS (
  SELECT m.user_id, s.h, m.last_ts,
         (m.n - 5 + ((s.h - 1) % 5) + 1) AS src_rn
  FROM meta m, steps s
)
SELECT f.user_id, CAST(f.h AS BIGINT) AS h,
       f.last_ts + INTERVAL 1 MINUTE * f.h AS forecast_ts,
       round(t.value - {_Z90} * sd.sdv, 6) AS p10,
       round(t.value, 6) AS p50,
       round(t.value + {_Z90} * sd.sdv, 6) AS p90
FROM fc f
JOIN ranked t ON t.user_id = f.user_id AND t.rn = f.src_rn
LEFT JOIN sd ON sd.user_id = f.user_id
"""


def forecast_backtest_rmse_wql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§3.2 lifecycle end-to-end: W1 tail split (last 3 points held
    out) -> seasonal-naive predict from train only -> join truth ->
    A10-A12 metrics (rmse + wQL at 0.1/0.5/0.9) in one row — the
    reference's train/evaluate loop (pipeline.py:391-404,
    evaluate.py:73-91) as a single relational plan. Every reduction is
    decimal-exact; per-row math mirrors the oracle symbol-for-symbol.

    Round 12 (guide §2.4): the tail_split -> seasonal_naive_forecast
    -> truth-join composition re-derived the same ranked frame four
    times — four parquet scans, four user_id exchanges, nine Window
    nodes in the optimized plan. This spelling computes the ranked
    frame ONCE and collapses every per-series lookup into one
    groupBy(user_id) that reuses the window's partitioning (no second
    exchange):

    - train membership is rn <= n-3 (the tail split on a prefix), so
      the seasonal differences of the TRAIN series equal the global
      lag-5 differences restricted to train rows (the lag source of a
      train row is always a train row) — the sd sums become
      conditional aggregates;
    - the forecast sources sit at fixed offsets from n
      (src_rn = (n-3) - 5 + ((h-1) mod 5) + 1 = n-7, n-6, n-5 for
      h = 1..3) and the truth rows at n-2, n-1, n, so both "joins"
      are max(when(rn == n-k, value)) conditional aggregates — valid
      because events.value is never NULL (all SFs verified), so a
      NULL pick means exactly "no such row" = the inner join dropping
      the pair;
    - the pred∞sd LEFT join is the cd > 0 guard (a series with no
      non-null train difference has no sd row -> NULL band).

    The j2/agg tail below is byte-identical to the old spelling, and
    the sums it regroups are decimal-exact, so the single output row
    is bit-identical (oracle-verified at sf0.001/0.01/0.1)."""
    from ..operators.forecast import Z90

    ev = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ranked = ev.select("user_id", "ts", "event_id", "value").select(
        "user_id",
        F.row_number().over(w).alias("rn"),
        F.count("*").over(Window.partitionBy("user_id")).alias("n"),
        (F.col("value") - F.lag("value", 5).over(w)).alias("d"),
        "value",
    )
    in_train = F.col("rn") <= F.col("n") - 3
    dec = lambda c: c.cast("decimal(28,6)")  # noqa: E731
    pick = lambda off: F.max(  # noqa: E731
        F.when(F.col("rn") == F.col("n") - off, F.col("value"))
    )
    per = ranked.groupBy("user_id").agg(
        F.sum(F.when(in_train, dec(F.col("d")))).alias("sd1"),
        F.sum(F.when(in_train, dec(F.col("d") * F.col("d")))).alias("sd2"),
        F.count(F.when(in_train, F.col("d"))).alias("cd"),
        pick(7).alias("p50_1"), pick(6).alias("p50_2"), pick(5).alias("p50_3"),
        pick(2).alias("t_1"), pick(1).alias("t_2"), pick(0).alias("t_3"),
    )
    m1 = F.col("sd1").cast("double") / F.col("cd")
    # the cd > 0 guard is load-bearing: greatest(0.0, NULL) is 0.0 in
    # Spark, which would turn "no sd row" into sd = 0.0
    sdv = F.when(
        F.col("cd") > 0,
        F.sqrt(F.greatest(F.lit(0.0),
                          F.col("sd2").cast("double") / F.col("cd") - m1 * m1)),
    )
    hs = F.array(*[
        F.struct(F.col(f"p50_{h}").alias("p50"), F.col(f"t_{h}").alias("target"))
        for h in (1, 2, 3)
    ])
    rows = (
        per.select("user_id", sdv.alias("sdv"), F.explode(hs).alias("x"))
        .select("sdv", "x.p50", "x.target")
        .filter(F.col("p50").isNotNull() & F.col("target").isNotNull())
    )
    j = rows.select(
        "target",
        F.round(F.col("p50") - F.lit(Z90) * F.col("sdv"), 6).alias("p10"),
        F.round(F.col("p50"), 6).alias("p50"),
        F.round(F.col("p50") + F.lit(Z90) * F.col("sdv"), 6).alias("p90"),
    )
    # All quantile-loss arithmetic in EXACT decimals (the
    # metrics_rmse_wql construction): p10/p50/p90 are 6dp-rounded
    # doubles, so casting them to DECIMAL(18,6) is far from any
    # rounding tie — whereas multiplying them by 0.1/0.9 as doubles
    # and THEN casting lands exactly on decimal midpoints, where
    # engine double->decimal casts disagree (observed). With
    # d = t - q exact: 10*ql_0.1 = d>0 ? d : -9d;
    # 2*ql_0.5 = |d|; 10*ql_0.9 = d>0 ? 9d : -d.
    j2 = j.select(
        F.col("target").cast("decimal(18,6)").alias("t"),
        F.col("p10").cast("decimal(18,6)").alias("q10"),
        F.col("p50").cast("decimal(18,6)").alias("q50"),
        F.col("p90").cast("decimal(18,6)").alias("q90"),
    ).select(
        "t",
        (F.col("t") - F.col("q10")).cast("decimal(28,6)").alias("d10"),
        (F.col("t") - F.col("q50")).cast("decimal(28,6)").alias("d50"),
        (F.col("t") - F.col("q90")).cast("decimal(28,6)").alias("d90"),
    )
    agg = j2.agg(
        F.count("*").alias("nr"),
        F.sum((F.col("d50") * F.col("d50")).cast("decimal(38,12)"))
        .cast("double")
        .alias("sse"),
        F.sum(F.abs("t")).cast("double").alias("sabs"),
        F.sum(
            F.when(F.col("d10") > 0, F.col("d10"))
            .otherwise(F.lit(-9) * F.col("d10"))
            .cast("decimal(28,6)")
        )
        .cast("double")
        .alias("s10x10"),
        F.sum(F.abs("d50").cast("decimal(28,6)")).cast("double").alias("s50x2"),
        F.sum(
            F.when(F.col("d90") > 0, F.lit(9) * F.col("d90"))
            .otherwise(-F.col("d90"))
            .cast("decimal(28,6)")
        )
        .cast("double")
        .alias("s90x10"),
    )
    return agg.select(
        F.sqrt(F.col("sse") / F.col("nr")).alias("rmse"),
        (F.col("s10x10") / (5 * F.col("sabs"))).alias("wql_0_1"),
        (F.col("s50x2") / F.col("sabs")).alias("wql_0_5"),
        (F.col("s90x10") / (5 * F.col("sabs"))).alias("wql_0_9"),
        (
            (
                F.col("s10x10") / (5 * F.col("sabs"))
                + F.col("s50x2") / F.col("sabs")
                + F.col("s90x10") / (5 * F.col("sabs"))
            )
            / 3
        ).alias("wql_mean"),
    )


FORECAST_BACKTEST_ORACLE = f"""
WITH ranked AS (
  SELECT user_id, value,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn,
         count(*)    OVER (PARTITION BY user_id) AS n
  FROM events
), train AS (
  SELECT user_id, value, rn, n - 3 AS tn FROM ranked WHERE rn <= n - 3
), diffs AS (
  SELECT user_id,
         value - lag(value, 5) OVER (PARTITION BY user_id ORDER BY rn) AS d
  FROM train
), sd AS (
  SELECT user_id, sqrt(greatest(0.0,
      CAST(sum(CAST(d*d AS DECIMAL(28,6))) AS DOUBLE)/count(d)
      - (CAST(sum(CAST(d AS DECIMAL(28,6))) AS DOUBLE)/count(d))
        * (CAST(sum(CAST(d AS DECIMAL(28,6))) AS DOUBLE)/count(d)))) AS sdv
  FROM diffs WHERE d IS NOT NULL GROUP BY 1
), steps AS (SELECT unnest(range(1, 4)) AS h),
meta AS (SELECT DISTINCT user_id, tn FROM train),
fc AS (
  SELECT m.user_id, s.h, (m.tn - 5 + ((s.h - 1) % 5) + 1) AS src_rn
  FROM meta m, steps s
), pred AS (
  SELECT f.user_id, f.h,
         round(t.value - {_Z90} * sd.sdv, 6) AS p10,
         round(t.value, 6) AS p50,
         round(t.value + {_Z90} * sd.sdv, 6) AS p90
  FROM fc f
  JOIN train t ON t.user_id = f.user_id AND t.rn = f.src_rn
  LEFT JOIN sd ON sd.user_id = f.user_id
), truth AS (
  SELECT user_id, rn - (n - 3) AS h, value AS target
  FROM ranked WHERE rn > n - 3
), j AS (
  SELECT CAST(t.target AS DECIMAL(18,6)) AS t,
         CAST(CAST(t.target AS DECIMAL(18,6)) - CAST(p.p10 AS DECIMAL(18,6)) AS DECIMAL(28,6)) AS d10,
         CAST(CAST(t.target AS DECIMAL(18,6)) - CAST(p.p50 AS DECIMAL(18,6)) AS DECIMAL(28,6)) AS d50,
         CAST(CAST(t.target AS DECIMAL(18,6)) - CAST(p.p90 AS DECIMAL(18,6)) AS DECIMAL(28,6)) AS d90
  FROM pred p JOIN truth t ON t.user_id = p.user_id AND t.h = p.h
), agg AS (
  SELECT count(*) AS nr,
    CAST(sum(CAST(d50 * d50 AS DECIMAL(38,12))) AS DOUBLE) AS sse,
    CAST(sum(abs(t)) AS DOUBLE) AS sabs,
    CAST(sum(CAST(CASE WHEN d10 > 0 THEN d10 ELSE -9 * d10 END AS DECIMAL(28,6))) AS DOUBLE) AS s10x10,
    CAST(sum(CAST(abs(d50) AS DECIMAL(28,6))) AS DOUBLE) AS s50x2,
    CAST(sum(CAST(CASE WHEN d90 > 0 THEN 9 * d90 ELSE -d90 END AS DECIMAL(28,6))) AS DOUBLE) AS s90x10
  FROM j
)
SELECT sqrt(sse / nr) AS rmse,
       s10x10 / (5 * sabs) AS wql_0_1,
       s50x2 / sabs AS wql_0_5,
       s90x10 / (5 * sabs) AS wql_0_9,
       (s10x10 / (5 * sabs) + s50x2 / sabs + s90x10 / (5 * sabs)) / 3 AS wql_mean
FROM agg
"""


SPECS: dict[str, QuerySpec] = {
    "forecast_seasonal_naive": QuerySpec(forecast_seasonal_naive, FORECAST_NAIVE_ORACLE, "§3.2 predictor baseline"),
    "forecast_backtest_rmse_wql": QuerySpec(forecast_backtest_rmse_wql, FORECAST_BACKTEST_ORACLE, "§3.2 lifecycle backtest"),
    "w1_train_test_split": QuerySpec(w1_train_test_split, W1_ORACLE, "W1"),
    "w2_expanding_validation_windows": QuerySpec(w2_expanding_validation_windows, W2_ORACLE, "W2"),
    "w4_forecast_index": QuerySpec(w4_forecast_index, W4_ORACLE, "W4"),
    "a8_ordered_gather": QuerySpec(a8_ordered_gather, A8_ORACLE, "A8,S13"),
    "wf_rank_lag_lead": QuerySpec(wf_rank_lag_lead, WF_RANK_ORACLE, "§2.5 ranking"),
    "wf_running_sum": QuerySpec(wf_running_sum, WF_RUNNING_ORACLE, "§2.5 frames"),
    "wf_rolling_time_range": QuerySpec(wf_rolling_time_range, WF_ROLLING_RANGE_ORACLE, "§2.5 time-range frame"),
    "sessionize_events": QuerySpec(sessionize_events, SESSIONIZE_ORACLE, "batch sessionization"),
    "scd2_price_history": QuerySpec(scd2_price_history, SCD2_ORACLE, "SCD type-2 history build"),
    "wf_first_last_nth": QuerySpec(wf_first_last_nth, WF_FIRST_LAST_ORACLE, "§2.5 value-anchoring window fns"),
    "metrics_rmse_wql": QuerySpec(metrics_rmse_wql, METRICS_ORACLE, "A10-A12"),
    "monitoring_consecutive_breach": QuerySpec(monitoring_consecutive_breach, MONITORING_ORACLE, "§3.3 alarm"),
    "threshold_update_rule": QuerySpec(threshold_update_rule, THRESHOLD_ORACLE, "§2.10 threshold"),
}


# ---------- cumulative distinct users (round 4) ----------

def wf_cumulative_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Growth accounting: per event-day, the number of first-seen
    users and the running total of distinct users ever seen — the
    exact "cumulative uniques" curve (a distinct count composed as
    min-date + running sum, so it needs no per-day distinct state).

    Scale: one user-keyed shuffle for the min-date, then all window
    work runs on the DAYS frame (≤ a few thousand rows at any corpus
    size) — the global-order window never sees event rows."""
    ev = _events(spark, sf_dir).select(
        F.to_date("ts").alias("day"), "user_id"
    )
    firsts = ev.groupBy("user_id").agg(F.min("day").alias("first_day"))
    new_per_day = firsts.groupBy("first_day").agg(
        F.count("*").alias("n_new_users")
    )
    days = ev.select("day").distinct()
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    return (
        days.join(new_per_day, days.day == new_per_day.first_day, "left")
        .select(
            "day", F.coalesce("n_new_users", F.lit(0)).alias("n_new_users")
        )
        .withColumn("cum_users", F.sum("n_new_users").over(w))
        .select("day", "n_new_users", "cum_users")
    )


WF_CUM_DISTINCT_ORACLE = """
WITH ev AS (
  SELECT CAST(ts AS DATE) AS day, user_id FROM events
), firsts AS (
  SELECT user_id, min(day) AS first_day FROM ev GROUP BY 1
), new_per_day AS (
  SELECT first_day, count(*) AS n_new_users FROM firsts GROUP BY 1
), days AS (
  SELECT DISTINCT day FROM ev
)
SELECT d.day,
       coalesce(n.n_new_users, 0) AS n_new_users,
       CAST(sum(coalesce(n.n_new_users, 0)) OVER (
         ORDER BY d.day ROWS UNBOUNDED PRECEDING
       ) AS BIGINT) AS cum_users
FROM days d LEFT JOIN new_per_day n ON d.day = n.first_day
"""

SPECS["wf_cumulative_distinct_users"] = QuerySpec(
    wf_cumulative_distinct_users, WF_CUM_DISTINCT_ORACLE,
    "per-day first-seen users + cumulative distinct-user curve",
)


# ---------- per-series OLS trend (round 4) ----------

_TREND_X0 = 1704067200  # 2024-01-01 UTC; bounds |x| so moments stay exact


def ts_trend_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-series drift detection: the OLS slope (value per second) and
    intercept of each user's event values over time — the grouped
    linear-trend profile that feeds monitoring ("which series are
    drifting and how fast"). Moments are exact: x is integer epoch
    seconds rebased to 2024-01-01 (Σx, Σx² integer-backed decimals —
    single-rounded to double identically in both engines), x·y is a
    4-dp-content product summed in DECIMAL(38,4); slope/intercept are
    rounded (12/8 dp) to absorb the >53-bit decimal→double cast
    divergence documented in the verify skill.

    Scale: one user-keyed shuffle of 5 partial aggregates — the
    classic map-side-combine shape; series length never materializes."""
    ev = _events(spark, sf_dir).select(
        "user_id",
        (F.unix_timestamp("ts").cast("long") - F.lit(_TREND_X0)).alias("x"),
        F.col("value").alias("y"),
    )
    dec0, dec4 = "decimal(38,0)", "decimal(38,4)"
    s = ev.groupBy("user_id").agg(
        F.count("*").alias("n_events"),
        F.sum(F.col("x").cast(dec0)).cast("double").alias("sx"),
        F.sum((F.col("x") * F.col("x")).cast(dec0)).cast("double").alias("sxx"),
        F.sum((F.col("x") * F.col("y")).cast(dec4)).cast("double").alias("sxy"),
        F.sum(F.col("y").cast(dec4)).cast("double").alias("sy"),
    )
    n = F.col("n_events").cast("double")
    den = n * F.col("sxx") - F.col("sx") * F.col("sx")
    slope = (n * F.col("sxy") - F.col("sx") * F.col("sy")) / den
    return (
        s.filter((F.col("n_events") >= 2) & (den != 0))
        .select(
            "user_id",
            "n_events",
            F.round(slope, 12).alias("slope"),
            F.round((F.col("sy") - slope * F.col("sx")) / n, 8).alias("intercept"),
        )
    )


TS_TREND_ORACLE = f"""
WITH t AS (
  SELECT user_id,
         CAST(floor(epoch(ts)) AS BIGINT) - {_TREND_X0} AS x,
         value AS y
  FROM events
), s AS (
  SELECT user_id, count(*) AS n_events,
         CAST(sum(CAST(x AS DECIMAL(38,0))) AS DOUBLE) AS sx,
         CAST(sum(CAST(x * x AS DECIMAL(38,0))) AS DOUBLE) AS sxx,
         CAST(sum(CAST(x * y AS DECIMAL(38,4))) AS DOUBLE) AS sxy,
         CAST(sum(CAST(y AS DECIMAL(38,4))) AS DOUBLE) AS sy
  FROM t GROUP BY 1
)
SELECT user_id, n_events,
       round((CAST(n_events AS DOUBLE) * sxy - sx * sy)
               / (CAST(n_events AS DOUBLE) * sxx - sx * sx), 12) AS slope,
       round((sy - (CAST(n_events AS DOUBLE) * sxy - sx * sy)
                     / (CAST(n_events AS DOUBLE) * sxx - sx * sx) * sx)
               / CAST(n_events AS DOUBLE), 8) AS intercept
FROM s
WHERE n_events >= 2 AND (CAST(n_events AS DOUBLE) * sxx - sx * sx) != 0
"""

SPECS["ts_trend_per_user"] = QuerySpec(
    ts_trend_per_user, TS_TREND_ORACLE,
    "grouped OLS trend: per-series value-vs-time slope + intercept",
)


# ---------- CUSUM change-point alerts (round 4) ----------

_CUSUM_H = 200.0


def ts_cusum_alerts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-series CUSUM change detection in closed form: the clamped
    recursion s_i = max(0, s_{i-1} + d_i) equals p_i - min(0,
    running_min(p)) for prefix sums p — the whole detector is two
    window passes (cumsum + running min), no iterative state. The
    reference level is calibrated on each series' FIRST 10 events
    (the real CUSUM contract: monitor the tail against a head-period
    target): mu = head_sum / 10 is one exact IEEE division both
    engines agree on bit-for-bit, value - mu is exactly 3-dp content,
    and every CUSUM quantity then rides exact DECIMAL window sums —
    no float reduction anywhere. (A round(mean, 4) reference was
    rejected: rounding a full-precision double diverges cross-engine
    for means near a 5e-5 boundary — Spark rounds the shortest repr,
    DuckDB the exact binary.) Emits the rows crossing h=200.

    Scale: one user-keyed shuffle; the rank, cumsum and running-min
    windows share the same per-user sort."""
    ev = _events(spark, sf_dir)
    w_ord = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ranked = ev.withColumn("rn", F.row_number().over(w_ord))
    cal = (
        ranked.filter(F.col("rn") <= 10)
        .groupBy("user_id")
        .agg(
            (
                F.sum(F.col("value").cast("decimal(18,2)")).cast("double") / F.lit(10.0)
            ).alias("mu")
        )
    )
    w = w_ord.rowsBetween(Window.unboundedPreceding, 0)
    t = (
        ranked.filter(F.col("rn") > 10)
        .join(cal, "user_id")
        .withColumn("d", (F.col("value") - F.col("mu")).cast("decimal(18,4)"))
        .withColumn("p", F.sum("d").over(w))
        .withColumn("rmin", F.min("p").over(w))
        .withColumn(
            "cusum_d",
            F.col("p") - F.least(F.lit(0).cast("decimal(18,4)"), F.col("rmin")),
        )
    )
    return t.filter(F.col("cusum_d") > _CUSUM_H).select(
        "user_id", "event_id", "ts", F.col("cusum_d").cast("double").alias("cusum")
    )


TS_CUSUM_ORACLE = f"""
WITH ranked AS (
  SELECT user_id, event_id, ts, value,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
  FROM events
), cal AS (
  SELECT user_id,
         CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / 10.0 AS mu
  FROM ranked WHERE rn <= 10 GROUP BY 1
), t AS (
  SELECT r.user_id, r.event_id, r.ts,
         CAST(r.value - c.mu AS DECIMAL(18,4)) AS d
  FROM ranked r JOIN cal c ON r.user_id = c.user_id
  WHERE r.rn > 10
), ps AS (
  SELECT user_id, event_id, ts,
         -- narrow back to (18,4): a (38,4)-(38,4) subtraction needs
         -- width 39, which DuckDB silently promotes to DOUBLE
         CAST(sum(d) OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS UNBOUNDED PRECEDING) AS DECIMAL(18,4)) AS p
  FROM t
), p AS (
  SELECT user_id, event_id, ts, p,
         min(p) OVER (PARTITION BY user_id ORDER BY ts, event_id
                      ROWS UNBOUNDED PRECEDING) AS rmin
  FROM ps
)
SELECT user_id, event_id, ts,
       -- the (19,4) subtraction result is int128-backed; DuckDB's
       -- int128 decimal->double cast is NOT correctly rounded
       -- (reciprocal multiply), the int64 path is — narrow first
       CAST(CAST(p - least(CAST(0 AS DECIMAL(18,4)), rmin) AS DECIMAL(18,4))
            AS DOUBLE) AS cusum
FROM p
WHERE (p - least(CAST(0 AS DECIMAL(18,4)), rmin)) > {_CUSUM_H}
"""


SPECS["ts_cusum_alerts"] = QuerySpec(
    ts_cusum_alerts, TS_CUSUM_ORACLE,
    "CUSUM change-point alerts via closed-form clamped cumsum",
)


# ---------- EWMA smoothing (round 5) ----------

_EWMA_LAGS = 20


def ts_ewma_smooth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user EWMA of event values (alpha=1/2, 20-lag truncated,
    pandas adjust=True semantics) — exact power-of-two weights make
    the smoother bit-identical across engines and partitionings."""
    from ..operators.timeseries import ewma_smooth

    return ewma_smooth(
        _events(spark, sf_dir),
        series_cols=["user_id"],
        ts_col="ts",
        value_col="value",
        lags=_EWMA_LAGS,
        tiebreak_col="event_id",
    )


def _ewma_oracle() -> str:
    num = " + ".join(
        f"coalesce(lag(c, {j}) OVER w * {1 << (_EWMA_LAGS - 1 - j)}, 0)"
        for j in range(_EWMA_LAGS)
    )
    den = " + ".join(
        f"CASE WHEN lag(c, {j}) OVER w IS NOT NULL"
        f" THEN {1 << (_EWMA_LAGS - 1 - j)} ELSE 0 END"
        for j in range(_EWMA_LAGS)
    )
    return f"""
WITH base AS (
  SELECT user_id, ts, event_id, value,
         CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
  FROM events
)
SELECT user_id, ts, event_id, value,
       CAST({num} AS DOUBLE) / CAST(({den}) * 100 AS DOUBLE) AS ewma
FROM base
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
"""


TS_EWMA_ORACLE = _ewma_oracle()

SPECS["ts_ewma_smooth"] = QuerySpec(
    ts_ewma_smooth, TS_EWMA_ORACLE,
    "per-series EWMA smoothing, exact power-of-two weights",
)


# ---------- gap-fill + linear interpolation (round 5) ----------

_GAPFILL_STEP = 3600
_GAPFILL_USER_MOD = 29


def ts_gapfill_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense hourly grid per sampled user series (linear interpolation
    over gaps) — the resampling the reference's forecaster assumes is
    already done upstream (preprocess.py materializes a dense 1-minute
    frame). User sample keeps the grid output bounded at sf0.01 while
    scaling linearly in series count."""
    from ..operators.timeseries import gapfill_interpolate

    ev = _events(spark, sf_dir).filter(
        F.col("user_id") % _GAPFILL_USER_MOD == 0
    )
    return gapfill_interpolate(
        ev, series_cols=["user_id"], ts_col="ts", value_col="value",
        step_seconds=_GAPFILL_STEP,
    )


TS_GAPFILL_ORACLE = f"""
WITH obs AS (
  SELECT user_id,
         CAST(floor(epoch(ts)) AS BIGINT) // {_GAPFILL_STEP} * {_GAPFILL_STEP}
           AS bucket_s,
         sum(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS c_sum,
         count(*) AS c_cnt
  FROM events
  WHERE user_id % {_GAPFILL_USER_MOD} = 0
  GROUP BY 1, 2
), grid AS (
  SELECT user_id,
         unnest(generate_series(min(bucket_s), max(bucket_s),
                                CAST({_GAPFILL_STEP} AS BIGINT))) AS bucket_s
  FROM obs GROUP BY user_id
), j AS (
  SELECT g.user_id, g.bucket_s, o.c_sum, o.c_cnt
  FROM grid g LEFT JOIN obs o USING (user_id, bucket_s)
), f AS (
  SELECT user_id, bucket_s, c_cnt,
    last_value(CASE WHEN c_cnt IS NOT NULL THEN bucket_s END IGNORE NULLS)
      OVER wf AS pb,
    last_value(c_sum IGNORE NULLS) OVER wf AS ps,
    last_value(c_cnt IGNORE NULLS) OVER wf AS pn,
    first_value(CASE WHEN c_cnt IS NOT NULL THEN bucket_s END IGNORE NULLS)
      OVER wb AS nb,
    first_value(c_sum IGNORE NULLS) OVER wb AS ns,
    first_value(c_cnt IGNORE NULLS) OVER wb AS nn
  FROM j
  WINDOW
    wf AS (PARTITION BY user_id ORDER BY bucket_s
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
    wb AS (PARTITION BY user_id ORDER BY bucket_s
           ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
)
SELECT user_id, bucket_s,
  CAST(ps AS DOUBLE) / CAST(pn * 100 AS DOUBLE)
  + (CAST(ns AS DOUBLE) / CAST(nn * 100 AS DOUBLE)
     - CAST(ps AS DOUBLE) / CAST(pn * 100 AS DOUBLE))
    * (CASE WHEN nb = pb THEN 0.0
            ELSE CAST(bucket_s - pb AS DOUBLE) / CAST(nb - pb AS DOUBLE)
       END) AS value_f,
  c_cnt IS NOT NULL AS observed
FROM f
"""

SPECS["ts_gapfill_interpolate"] = QuerySpec(
    ts_gapfill_interpolate, TS_GAPFILL_ORACLE,
    "per-series gap-fill to an hourly grid, exact linear interpolation",
)


# ---------- additive seasonal decomposition (round 5) ----------

_SEASONAL_PERIOD = 7


def ts_seasonal_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user weekly decomposition of daily totals: centered 7-day
    MA trend + day-of-week seasonal index + remainder, interior
    consecutive days only."""
    from ..operators.timeseries import seasonal_decompose

    return seasonal_decompose(
        _events(spark, sf_dir), series_cols=["user_id"], ts_col="ts",
        value_col="value", period=_SEASONAL_PERIOD,
    )


_P = _SEASONAL_PERIOD
_H = _P // 2

TS_SEASONAL_ORACLE = f"""
WITH daily AS (
  SELECT user_id,
         CAST(floor(epoch(ts)) AS BIGINT) // 86400 * 86400 AS day_s,
         sum(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS y_c
  FROM events GROUP BY 1, 2
), win AS (
  SELECT user_id, day_s, y_c,
         sum(y_c)   OVER w AS t_sum,
         count(y_c) OVER w AS t_cnt,
         max(day_s) OVER w - min(day_s) OVER w AS t_span
  FROM daily
  WINDOW w AS (PARTITION BY user_id ORDER BY day_s
               ROWS BETWEEN {_H} PRECEDING AND {_H} FOLLOWING)
), interior AS (
  SELECT user_id, day_s, y_c, t_sum,
         y_c * {_P} - t_sum AS det_num,
         CAST((day_s // 86400) % {_P} AS INTEGER) AS phase
  FROM win
  WHERE t_cnt = {_P} AND t_span = {86400 * (_P - 1)}
), phase_stats AS (
  SELECT user_id, phase,
         CAST(sum(det_num) AS BIGINT) AS s_num,
         count(det_num) AS s_cnt
  FROM interior GROUP BY 1, 2
)
SELECT i.user_id AS user_id, i.day_s AS day_s, i.phase AS phase,
       CAST(i.y_c AS DOUBLE) / 100.0 AS y,
       CAST(i.t_sum AS DOUBLE) / {float(_P * 100)} AS trend,
       CAST(p.s_num AS DOUBLE) / CAST(p.s_cnt * {_P * 100} AS DOUBLE)
         AS seasonal,
       CAST(i.det_num AS DOUBLE) / {float(_P * 100)}
         - CAST(p.s_num AS DOUBLE) / CAST(p.s_cnt * {_P * 100} AS DOUBLE)
         AS remainder
FROM interior i JOIN phase_stats p USING (user_id, phase)
"""

SPECS["ts_seasonal_decompose"] = QuerySpec(
    ts_seasonal_decompose, TS_SEASONAL_ORACLE,
    "additive weekly decomposition of daily series, exact-integer core",
)


# ---------- MAD robust anomalies (round 5) ----------

_MAD_Z = 3.5


def ts_anomaly_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user robust outliers: |x - median| / (1.4826 * MAD) >
    {z} on exact positional cent medians.""".format(z=_MAD_Z)
    from ..operators.timeseries import mad_anomalies

    return mad_anomalies(
        _events(spark, sf_dir), series_cols=["user_id"], ts_col="ts",
        value_col="value", z_threshold=_MAD_Z, tiebreak_col="event_id",
    )


TS_MAD_ORACLE = f"""
WITH base AS (
  SELECT user_id, ts, event_id, value,
         CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
  FROM events
  WHERE value IS NOT NULL
), r1 AS (
  SELECT *, count(*) OVER (PARTITION BY user_id) AS n,
         row_number() OVER (PARTITION BY user_id ORDER BY c, ts, event_id)
           AS rn
  FROM base
), m1 AS (
  SELECT user_id, ts, event_id, value, c,
         max(CASE WHEN rn = (n + 1) // 2 THEN c END)
           OVER (PARTITION BY user_id)
         + max(CASE WHEN rn = (n + 2) // 2 THEN c END)
           OVER (PARTITION BY user_id) AS med2
  FROM r1
), r2 AS (
  SELECT *, abs(c * 2 - med2) AS d2,
         count(*) OVER (PARTITION BY user_id) AS n,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY abs(c * 2 - med2), ts, event_id) AS rn
  FROM m1
), m2 AS (
  SELECT user_id, ts, event_id, value, c, med2,
         max(CASE WHEN rn = (n + 1) // 2 THEN d2 END)
           OVER (PARTITION BY user_id)
         + max(CASE WHEN rn = (n + 2) // 2 THEN d2 END)
           OVER (PARTITION BY user_id) AS mad4
  FROM r2
)
SELECT user_id, ts, event_id, value,
       round(CAST(c * 2 - med2 AS DOUBLE) * 2.0
             / (1.4826 * CAST(mad4 AS DOUBLE)), 6) AS robust_z
FROM m2
WHERE mad4 > 0
  AND abs(CAST(c * 2 - med2 AS DOUBLE) * 2.0
          / (1.4826 * CAST(mad4 AS DOUBLE))) > {_MAD_Z}
"""

SPECS["ts_anomaly_mad"] = QuerySpec(
    ts_anomaly_mad, TS_MAD_ORACLE,
    "per-series MAD robust outliers on exact positional cent medians",
)


# ---------- interval overlap join (round 5) ----------

_FULFILL_DAYS = 30
_IV_BUCKET = 86400 * 30


def interval_overlap_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concurrent open orders per customer: pairs of orders whose
    30-day fulfillment windows [orderdate, orderdate + 30d] intersect
    — the interval-INTERVAL join (the engine's range_join covers
    point-in-interval). Lossless time-bucket blocking; pair direction
    deduplicated by orderkey order."""
    from ..operators.relational import interval_overlap_pairs

    iv = load_table(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_orderkey",
        F.unix_timestamp("o_orderdate").cast("long").alias("w_start"),
        (
            F.unix_timestamp("o_orderdate").cast("long")
            + F.lit(_FULFILL_DAYS * 86400)
        ).alias("w_end"),
    )
    return interval_overlap_pairs(
        iv,
        key_cols=["o_custkey"],
        id_cols=["o_orderkey"],
        start_col="w_start",
        end_col="w_end",
        bucket_seconds=_IV_BUCKET,
    )


INTERVAL_OVERLAP_ORACLE = f"""
WITH iv AS (
  SELECT o_custkey, o_orderkey,
         CAST(floor(epoch(o_orderdate)) AS BIGINT) AS s,
         CAST(floor(epoch(o_orderdate)) AS BIGINT) + {_FULFILL_DAYS * 86400}
           AS e
  FROM orders
)
SELECT a.o_custkey AS o_custkey,
       a.o_orderkey AS o_orderkey_a,
       b.o_orderkey AS o_orderkey_b,
       greatest(a.s, b.s) AS ov_start,
       least(a.e, b.e) AS ov_end,
       least(a.e, b.e) - greatest(a.s, b.s) AS ov_seconds
FROM iv a JOIN iv b
  ON a.o_custkey = b.o_custkey AND a.o_orderkey < b.o_orderkey
 AND a.s <= b.e AND b.s <= a.e
"""

SPECS["interval_overlap_orders"] = QuerySpec(
    interval_overlap_orders, INTERVAL_OVERLAP_ORACLE,
    "interval-interval overlap join via lossless time-bucket blocking",
)
