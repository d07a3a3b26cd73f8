"""The per-layer record: build, plan and execute of one call, eager jobs,
stage counters, plan-node counts, and one listener row per trigger."""

from __future__ import annotations

import json
import os
import time

import pandas as pd
import pytest
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import LongType

from mlops_realtime_data_ingestion_spark.plans.registry import all_specs
from mlops_realtime_data_ingestion_spark.streaming.pipeline import PipelineConfig, StreamingPipeline
from perfbench import inputs, workloads
from perfbench.probes import NODE_KINDS, ProgressLog, plan_nodes, profile_call, settle

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pandas_udf(LongType())
def _plus_one(s: pd.Series) -> pd.Series:
    return s + 1


def test_layers_present_and_within_the_call(spark, tiny_tables):
    spec = all_specs()["tpch_q1_pricing_summary"]
    t0 = time.monotonic()
    rec, cols, rows = profile_call(spark, lambda: spec.fn(spark, tiny_tables), "t.q1")
    e2e = time.monotonic() - t0
    for key in ("build_s", "plan_s", "exec_s"):
        assert rec[key] > 0
    assert rec["build_s"] + rec["plan_s"] + rec["exec_s"] <= e2e
    assert rec["jobs"] >= 1 and rec["tasks"] >= 1 and rec["input_rows"] > 0
    assert rows and cols == spec.fn(spark, tiny_tables).columns


def test_eager_count_during_build_is_attributed_to_plans(spark):
    def build():
        df = spark.range(1000)
        n = df.count()  # an eager job while the DataFrame is being built
        return df.filter(F.col("id") < n // 2)

    rec, _, rows = profile_call(spark, build, "t.eager")
    assert rec["eager_jobs"] >= 1
    assert len(rows) == 500

    rec, _, _ = profile_call(spark, lambda: spark.range(10), "t.lazy")
    assert rec["eager_jobs"] == 0


def _text_counts(jplan) -> dict[str, int]:
    """Node counts read from the executed plan's own tree string, an
    independent reading of the same plan. An adaptive plan prints its
    final plan first, then the initial one: only the final one counts."""
    text = jplan.toString().split("== Initial Plan ==")[0]
    names = {"exchange": "Exchange ", "sort": "Sort [", "smj": "SortMergeJoin ", "bhj": "BroadcastHashJoin ",
             "shj": "ShuffledHashJoin ", "window": "Window [", "arrow_python": "ArrowEvalPython "}
    counts = {k: 0 for k in NODE_KINDS}
    for line in text.splitlines():
        body = line.lstrip(" :+-*()0123456789")
        for kind, prefix in names.items():
            if body.startswith(prefix):
                counts[kind] += 1
    return counts


def test_node_counts_match_the_executed_plan(spark):
    a = spark.range(2000).withColumn("k", F.col("id") % 50)
    b = spark.range(500).withColumn("k", F.col("id") % 50).withColumnRenamed("id", "bid")
    df = a.join(b.hint("merge"), "k").withColumn("y", _plus_one("id")).groupBy("k").agg(F.sum("y").alias("s"))

    rec, _, rows = profile_call(spark, lambda: df, "t.nodes")
    plan = df._jdf.queryExecution().executedPlan()
    assert {k: rec[k] for k in NODE_KINDS} == _text_counts(plan)
    assert rec["smj"] == 1 and rec["arrow_python"] == 1 and rec["exchange"] >= 3
    assert dict(plan_nodes(plan)) == {k: rec[k] for k in NODE_KINDS}  # counts repeat exactly
    assert len(rows) == 50


def test_listener_gives_one_row_per_trigger(spark, tmp_path):
    src = tmp_path / "in"
    inputs.write_stream(str(src), 2, n_files=3, events_per_file=300, event_s_per_file=40.0)
    pipe = StreamingPipeline(PipelineConfig(feature_path=str(tmp_path / "features"),
                                            checkpoint_root=str(tmp_path / "chk"),
                                            bronze_path=str(tmp_path / "bronze")))
    source = (spark.readStream.schema(workloads.STREAM_SCHEMA).option("maxFilesPerTrigger", 1).json(str(src))
              .select("hash", F.timestamp_micros("ts_micros").alias("tx_time"), "fee"))
    log = ProgressLog()
    spark.streams.addListener(log)
    try:
        ingest = pipe.start_ingest(source, available_now=True)
        ingest.awaitTermination(120)
        agg = pipe.start_aggregate(spark, available_now=True)
        agg.awaitTermination(120)
        settle(spark.sparkContext)
    finally:
        spark.streams.removeListener(log)
    for q in (ingest, agg):
        rows = log.of(str(q.id))
        assert [r["batch"] for r in rows] == [p["batchId"] for p in q.recentProgress]
    # one data trigger per file; a no-data trigger may follow to move the watermark
    assert sum(r["input_rows"] > 0 for r in log.of(str(ingest.id))) == 3


def test_benchmark_json_lists_every_metric_with_its_unit():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert [(m["name"], m["unit"]) for m in bench["per_layer"]] == \
        [(n, workloads.unit_of(n)) for n in workloads.per_layer_names()]
    assert [w["name"] for w in bench["workloads"]] == list(workloads.WORKLOADS)
    for m in bench["end_to_end"]:
        assert workloads.unit_of(m["name"]) == m["unit"]


@pytest.mark.parametrize("name,unit", [("latency_s", "s"), ("peak_rss_mb", "MB"), ("q.x_y.build_s", "s"),
                                       ("streaming.ingest.trigger_ms_p50", "ms"), ("sources.read_lag_s_p90", "s"),
                                       ("operators.input_rows", "count"), ("trace_overhead_pct", "%")])
def test_unit_of(name, unit):
    assert workloads.unit_of(name) == unit
