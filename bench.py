"""Benchmark harness (driver contract).

Runs the engine's headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE JSON
line: {"metric": ..., "value": N, "unit": "sec", "queries": {...},
"sf": ...}.

Each query is forced end-to-end through Spark's noop sink — full
materialization of every output row on the executors, no driver-side
collect distorting the measurement. Every such timing goes through
`_timed`, which also records the query's construction time and the
write's stage counters. The full record is written to
BENCH_DETAIL.json next to this script, replacing the committed one, so
run it from a copy of the repository to keep that file.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time
import traceback
import uuid
from functools import partial

import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from perfbench.probes import group_jobs, group_metrics, set_group, settle  # noqa: E402

# The headline set: the reference's production query + one
# representative per operator family (scan-agg, star join, window
# functions, series prep, metrics, dedup, similarity, text).
HEADLINE = [
    "flagship_tx_window_1min",
    "tpch_q1_pricing_summary",
    "join_3way_brand_nation",
    "p1_dedup_keep_first",
    "wf_rank_lag_lead",
    "a8_ordered_gather",
    "metrics_rmse_wql",
    "w1_train_test_split",
    # extension families (present from the round they land)
    "dedup_ngram_jaccard",
    "dedup_minhash_lsh",
    "sim_search_cosine_topk",
    "text_quality_score",
    # training-data pipeline stages
    "decontam_ngram_overlap",
    "doc_chunk_sliding",
    "join_salted_skew",
    "wf_rolling_time_range",
    "sessionize_events",
    "scd2_price_history",
    "dq_orders_report",
    "sim_search_lsh_topk",
    "pack_sequences_greedy",
    "forecast_backtest_rmse_wql",
    "text_repetition_metrics",
    "curation_funnel",
    # round-3 families: incremental maintenance, fuzzy matching,
    # steady-state dedup, sketch quantiles
    "rollup_incremental_merge",
    "fuzzy_join_part_names",
    "dedup_incremental_lsh",
    "approx_quantiles_value",
    # round-4 curation families: passage-level exact dedup,
    # compressed-index ANN, hashed-classifier scoring.
    # (dedup_semdedup is deliberately NOT here: its scale knob is the
    # cluster count k, which must grow with the corpus — benching the
    # oracle-checkable fixed-k=4 configuration at 100x would measure
    # a misconfiguration (corpus²/4 intra-cluster pairs), not the
    # plan. See SCALE.md.)
    "passage_dedup_spans",
    "sim_search_ivfpq",
    "quality_classifier_hashed",
    # round-5: arbitrary-length exact substring dedup (seed-and-chain),
    # content-defined chunking dedup, exact EWMA smoothing
    "substring_dedup_chains",
    "dedup_cdc_chunks",
    "ts_ewma_smooth",
    # round-6: steady-state batch-vs-corpus substring dedup and
    # asymmetric containment (quote/sub-document) dedup
    "substring_dedup_incremental",
    "dedup_containment",
    # round-7: steady-state batch-vs-corpus containment serve, and
    # simhash newly 100x-viable (pigeonhole-minimal 12-bit bands +
    # hamming-before-distinct replaced the 8-bit-band spelling whose
    # docs^2/256 candidate stream OOMed at this scale)
    "dedup_containment_incremental",
    "dedup_simhash",
    # round-8: the steady-state containment serve from the persisted
    # frozen-rank index (the plan a pipeline runs per ingest; the index
    # build happens at plan construction on first touch, so it lands in
    # the first run's build_s, not in run_s), and simhash
    # block-combination banding (the >= 1e8-doc plan)
    "dedup_containment_index_serve",
    "dedup_simhash_combi",
    # round-8: the steady-state batch-vs-corpus simhash serve; the
    # index-serve spelling reads the persisted fingerprint parquet
    # (built on first touch, like containment's index-serve row)
    "dedup_simhash_incremental",
    "dedup_simhash_index_serve",
    # round-9: the production-quality ANN spelling — ADC top-50
    # shortlist + exact-cosine refine (recall@5 0.995 vs 0.045 for the
    # ADC-only row on the planted-cluster fixture).
    # (dedup_embedding_cosine is deliberately NOT here, same reasoning
    # as dedup_semdedup above: its oracle-checkable registry spelling
    # pins n_planes=4 for the static SQL mirror, and a 16-bucket table
    # over a 100x corpus measures a misconfiguration (occupancy ~1250
    # -> half a billion candidate pairs), not the plan. The scaled
    # sections run the SAME operator in its scale configuration —
    # auto n_planes via choose_lsh_planes — with candidate/survivor
    # accounting; see dedup_embedding_cosine_scaled below.)
    "sim_search_ivfpq_rerank",
    # round-9: the same rerank plan served from the persisted
    # build-once index (the first run's build_s pays the build).
    "sim_search_ivfpq_serve",
    # round-9: sample-trained quantizers (Knuth high-bit 1/4 slice) —
    # the FAISS bounded-sample build; at 1e9 vectors the Lloyd
    # iteration term is sample-sized instead of corpus-sized.
    "sim_search_ivfpq_sampled",
    # round-9: the ANN build/update/serve lifecycle — batch appended
    # to the frozen index, no retraining; first call per scale pays
    # build+update, best-of-N records the steady-state serve.
    "sim_search_ivfpq_index_update",
    # round-10: the 64-bit fingerprint (the >= 1e9-doc width the
    # banding rule's contract requires), b=6 combination banding —
    # expected ~the dedup_simhash_combi cost plus 16/48 more vote
    # rows in the fingerprint stage.
    "dedup_simhash64",
]

# A timed query gets one run instead of best-of-N when its first run
# already took this long: a rerun would double the bench's wall clock
# for a number first-touch noise barely moves at that size. One cap
# for every section; no sf0.1 or 10x row has come near it. (At 30 s,
# through round 5, it left 100x dedup heavies single-shot with +90 s
# of first-touch noise.)
SCALE100_RERUN_CAP_S = 90.0

# Headline rows whose RECORDED number includes quantizer TRAINING on
# every run — the oracle-checkable inline-retrain ANN spellings. Their
# serving cost is measured separately (sim_search_ivfpq_serve and the
# ivfpq_lifecycle section), so every section also reports
# total_serve_sec = total_sec minus this set (VERDICT r9 task 3).
BUILD_INCLUSIVE = frozenset({
    "sim_search_ivfpq",
    "sim_search_ivfpq_rerank",
    "sim_search_ivfpq_sampled",
})


def superlinear_flagged(t_sf: float, t_scaled: float, factor: float) -> bool:
    """Two-sided superlinear detector (ADVICE r9). Clause 1: growth
    over 2x-linear with the baseline floored at 0.5 s (sub-0.5 s
    baselines are dominated by fixed per-query overhead — plan build
    and task launch — that does not scale with data; the round-9
    false alarm was dedup_ngram_jaccard 0.31 s -> 6.27 s while its
    candidate count grew 5.4x). Clause 2: the floor alone lets a
    quadratic 0.1 s plan land undetected at ~10 s, so also flag growth
    over 4x-linear on the TRUE baseline with a 2 s absolute floor:
    quadratic 0.1 s -> 10 s trips it (10 > 4*10*0.1), while the
    round-9 false alarm stays suppressed (6.27 < 4*10*0.31 = 12.4)."""
    return t_scaled > 2 * factor * max(t_sf, 0.5) or (
        t_scaled > 4 * factor * max(t_sf, 1e-3) and t_scaled > 2.0
    )


def _serve_total(timings: dict[str, float]) -> float:
    return round(
        sum(v for n, v in timings.items() if n not in BUILD_INCLUSIVE), 3
    )


def _failed(what: str, e: Exception) -> str:
    """Report a failed bench step on stderr, with its traceback, and
    return the one-line reason the record keeps in its place."""
    traceback.print_exc()
    reason = f"{type(e).__name__}: {e}"[:500]
    print(f"bench: {what} failed: {reason}", file=sys.stderr)
    return reason


def _section(fn, *args):
    """``fn(*args)``, or ``{"error": "<Type>: <msg>"}`` when it raises.
    Auxiliary sections must not kill the primary JSON line, and a
    section that failed must say why instead of reading as missing."""
    try:
        return fn(*args)
    except Exception as e:
        return {"error": _failed(fn.__name__, e)}


def _timed(spark, build, runs: int, tag: str) -> dict:
    """Best-of-``runs`` timing of one query through Spark's noop sink.

    Each run calls ``build()`` (a registry ``QuerySpec.fn`` or any
    DataFrame factory), then forces every output row with a noop
    write. Its record splits the cost by layer:

    - ``build_s``, and ``eager_jobs``: the Spark jobs ``build()``
      started itself while constructing the DataFrame;
    - ``run_s``: the noop write;
    - the write's job-group counters from ``perfbench.probes``: jobs,
      stages, tasks, cpu_s, gc_s, shuffle read/write, spill
      memory/disk, input_rows.

    Attribution is by job group, read from the in-process status
    store, so it needs no Spark UI. There is no planning split: the
    noop write plans the query again. Stops after a run that took at
    least ``SCALE100_RERUN_CAP_S``. Returns ``{"best": min run_s,
    "build": min build_s, "runs": [record per run]}``."""
    sc = spark.sparkContext
    recs = []
    for _ in range(runs):
        group = f"bench:{tag}:{uuid.uuid4().hex[:8]}"
        try:
            set_group(sc, group + ":build")
            t0 = time.perf_counter()
            df = build()
            t1 = time.perf_counter()
            set_group(sc, group + ":run")
            df.write.format("noop").mode("overwrite").save()
            t2 = time.perf_counter()
        finally:
            set_group(sc, None)
        settle(sc)
        rec = {
            "build_s": round(t1 - t0, 3),
            "eager_jobs": len(group_jobs(sc, group + ":build")),
            "run_s": round(t2 - t1, 3),
        }
        for k, v in group_metrics(sc, group + ":run").items():
            rec[k] = round(v, 3)
        rec["input_rows"] = int(rec["input_rows"])
        recs.append(rec)
        if rec["run_s"] >= SCALE100_RERUN_CAP_S:
            break
    return {
        "best": min(r["run_s"] for r in recs),
        "build": min(r["build_s"] for r in recs),
        "runs": recs,
    }


def _headline(spark, specs, data_dir: str, runs: int, tag: str) -> dict:
    """Every HEADLINE query at ``data_dir`` through :func:`_timed`:
    ``queries`` holds each best ``run_s`` (the number compared across
    rounds), ``build`` each min ``build_s``, ``runs`` every per-run
    record, and ``errors`` the reason for each query that raised."""
    out: dict = {"queries": {}, "build": {}, "runs": {}, "errors": {}}
    for name in HEADLINE:
        try:
            t = _timed(
                spark, partial(specs[name].fn, spark, data_dir), runs,
                f"{tag}:{name}",
            )
        except Exception as e:
            out["errors"][name] = _failed(f"{tag} {name}", e)
            continue
        out["queries"][name] = t["best"]
        out["build"][name] = t["build"]
        out["runs"][name] = t["runs"]
    return out


def _calibration(spark, data_dir: str) -> dict:
    """Fixed canonical probe workload, timed at the top of every scale
    section and recorded in the JSON (VERDICT r9 task 1a): host-speed
    drift between rounds becomes a measured divisor instead of an
    asserted excuse. Two sub-probes over the section's own lineitem
    table — a scan+shuffle+agg (TPC-H Q1 shape) and a global 2-column
    sort — each best-of-2. The plan is FROZEN: changing it breaks
    cross-round comparability, so don't."""
    from pyspark.sql import functions as F

    from mlops_realtime_data_ingestion_spark.sources.batch import load_table

    li = load_table(spark, data_dir, "lineitem")
    agg = li.groupBy("l_returnflag", "l_linestatus").agg(
        F.sum("l_quantity").alias("sq"),
        F.avg("l_extendedprice").alias("ap"),
        F.count("*").alias("c"),
    )
    srt = li.select("l_extendedprice", "l_orderkey").orderBy(
        "l_extendedprice", "l_orderkey"
    )
    return {
        "agg_sec": _timed(spark, lambda: agg, 2, "calibration:agg")["best"],
        "sort_sec": _timed(spark, lambda: srt, 2, "calibration:sort")["best"],
    }


def _jvm_health(spark) -> dict | None:
    """JIT/code-cache state of the live JVM (VERDICT r10 task 1b).

    When HotSpot's code cache fills (a full bench compiles thousands
    of generated classes), the compiler can shut off and hot generated
    methods run INTERPRETED: a CPU-only slowdown with zero spill and
    zero GC (the round-10 cdc episode, SCALE.md round 11). This probe
    makes that observable: per-pool CodeHeap usage, cumulative JIT
    compile time, and loaded class count, recorded at the start and
    end of each scale section. None on any failure — diagnostics must
    never kill the bench."""
    try:
        mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
        pools = {}
        it = mf.getMemoryPoolMXBeans().iterator()
        while it.hasNext():
            p = it.next()
            name = p.getName()
            # segmented (JDK 9+ default): three "CodeHeap '...'" pools;
            # non-segmented (small -XX:ReservedCodeCacheSize): one
            # "CodeCache" pool — match both spellings
            if "CodeHeap" in name or name.replace(" ", "") == "CodeCache":
                u = p.getUsage()
                mx = u.getMax()
                pools[name] = {
                    "used_mb": round(u.getUsed() / 1048576, 1),
                    # getMax() returns -1 for an undefined pool max;
                    # record None rather than -0.0 (ADVICE r11)
                    "max_mb": round(mx / 1048576, 1) if mx >= 0 else None,
                }
        return {
            "code_cache": pools,
            "jit_total_compile_ms": mf.getCompilationMXBean().getTotalCompilationTime(),
            "classes_loaded": mf.getClassLoadingMXBean().getLoadedClassCount(),
        }
    except Exception:
        return None


def _warm_session(spark) -> None:
    """Warm a session so no query is charged for one-time machinery:
    JVM codegen, the Python worker pool (pandas UDFs fork ~1 worker
    per core on first use), and Arrow serialization paths. Called
    once per SCALE SESSION (see _fresh_session)."""
    from pyspark.sql import functions as F

    spark.range(1000).selectExpr("sum(id)").collect()

    @F.pandas_udf("long")
    def _warm(v: pd.Series) -> pd.Series:
        return v

    spark.range(
        10000, numPartitions=int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    ).select(_warm("id")).selectExpr("sum(`_warm(id)`)").collect()
    spark.range(100).selectExpr(
        "aggregate(sequence(1, 50), 0L, (a, x) -> a + x)"
    ).collect()


def _fresh_session(name: str, hard: bool = False):
    """Stop the current session and build a warmed replacement — one
    session PER SCALE SECTION (round 9). Sharing one JVM across the
    sf0.1 + streaming + 10x + 100x phases let state accumulated by
    earlier phases (caches at three data scales, streaming state,
    ~200 UDFs' worth of Python workers) degrade the LATE sections:
    dedup_cdc_chunks cost ~10-16 s at 100x in a fresh session and
    89-98 s inside the shared-session bench. Per-scale sessions also
    mirror production: a 100x job is its own Spark application.

    ``hard=True`` also tears down the JVM itself: JIT state survives
    stop_spark() because the py4j gateway reuses the JVM, and the
    round-10 cdc episode (112 s vs 11 s for identical work) lived
    there (SCALE.md round 11)."""
    from mlops_realtime_data_ingestion_spark.session import (
        get_spark,
        hard_reset_jvm,
        stop_spark,
    )

    if hard:
        hard_reset_jvm()
    else:
        stop_spark()
    spark = get_spark(name)
    _warm_session(spark)
    return spark


def _warm_scan(spark, data_dir: str) -> None:
    """One untimed pass over every parquet table in data_dir: pulls
    file footers + pages through the OS page cache so first-touch I/O
    is never charged to whichever query happens to run first."""
    import glob

    from pyspark.sql import functions as F

    for p in sorted(glob.glob(os.path.join(data_dir, "*.parquet"))):
        try:
            # count(*) alone would prune every column; hash the full
            # width so data pages (not just footers) get cached.
            # bit_xor, not sum — summing 2^63-range hashes overflows
            # under ANSI mode and would silently skip the table.
            df = spark.read.parquet(p)
            df.select(F.xxhash64(*df.columns).alias("h")).agg(
                F.expr("bit_xor(h)")
            ).collect()
        except Exception:
            continue


def main() -> None:
    here = os.path.dirname(os.path.abspath(__file__))
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]

    from mlops_realtime_data_ingestion_spark.plans.registry import all_specs
    from mlops_realtime_data_ingestion_spark.session import get_spark

    spark = get_spark("bench")
    specs = all_specs()
    _warm_session(spark)
    calibration = _section(_calibration, spark, sf_dir)
    jvm_health_start = _jvm_health(spark)

    # Best-of-3 per query: single-shot numbers at sf0.1 swing 2-5x on
    # first-touch effects (page cache, codegen cache, worker reuse),
    # and best-of-2 still let a noisy session drift the headline ~1.2x
    # (VERDICT r8). A failed headline query fails the bench: `value`
    # is only comparable across rounds over the full set.
    head = _headline(spark, specs, sf_dir, 3, "sf")
    if head["errors"]:
        raise RuntimeError(f"headline queries failed: {head['errors']}")
    timings = head["queries"]

    # Streaming freshness: wall time to drain the events backlog
    # through the full pipeline (dedup -> bronze -> 1-min window ->
    # feature upsert); BASELINE.md budgets ~2 min per minute bucket.
    # The pipeline runs inside the query's build, so a run's number
    # is build_s + run_s. Best-of-2 with both runs recorded: a single
    # shot swung 21.1 -> 57.3 s r9 -> r10 on identical code.
    stream = _timed(
        spark, partial(specs["streaming_pipeline_e2e"].fn, spark, sf_dir), 2,
        "sf:streaming_pipeline_e2e",
    )
    streaming_e2e_runs = [
        round(r["build_s"] + r["run_s"], 3) for r in stream["runs"]
    ]

    # Live-trigger freshness: both pipeline queries running
    # continuously against the rate source; report the max delay
    # between a window's end and its materialization in the feature
    # store (reference budget: 120 s per minute bucket). Shortened
    # 10 s windows so finalized output lands within the measurement
    # budget — the operators and plan shape are the production ones.
    live_freshness = _section(_live_freshness, spark)

    # Scaling section: if the 10x-replicated dataset exists
    # (tools/make_scaled_data.py), run the headline set there
    # best-of-2 (a single-shot numerator makes the super-linear flag
    # flap on first-touch noise) and flag super-linear queries.
    scaled = None
    scaled_dir = os.environ.get(
        "SPARK_GRAFT_SCALED_DIR", os.path.join(here, ".data", "sf1")
    )
    scaled_factor = 10.0
    if os.path.isdir(scaled_dir):
        spark = _fresh_session("bench-10x", hard=True)
        s_calibration = _section(_calibration, spark, scaled_dir)
        s = _headline(spark, specs, scaled_dir, 2, "10x")
        # the floors and the two clauses: see superlinear_flagged
        anomalies = {
            n: round(t / max(timings[n], 1e-3), 1)
            for n, t in s["queries"].items()
            if n in timings
            and superlinear_flagged(timings[n], t, scaled_factor)
        }
        dirs = {"sf": sf_dir, "scaled": scaled_dir}
        scaled = {
            "dir": scaled_dir,
            "factor_vs_sf": scaled_factor,
            "total_sec": round(sum(s["queries"].values()), 3),
            "total_serve_sec": _serve_total(s["queries"]),
            "calibration": s_calibration,
            # see the 100x section's calibration_end comment
            "calibration_end": _section(_calibration, spark, scaled_dir),
            "jvm_health_end": _jvm_health(spark),
            **s,
            "superlinear": anomalies,
            # Candidate-vs-survivor accounting for every dedup path at
            # BOTH scales: lets a super-linear wall-clock number be
            # adjudicated as candidate-set growth (work tracks the
            # candidate count, which grows with near-dup density) vs a
            # quadratic plan regression.
            "dedup_ngram_jaccard_accounting": _section(
                _jaccard_accounting, spark, dirs
            ),
            "dedup_lsh_accounting": _section(_lsh_accounting, spark, dirs),
            # SemDeDup in its SCALE configuration: cluster count grown
            # with the corpus, sample-trained centroids, Arrow
            # assignment + chunked per-cluster matmul pruning — the
            # measurement the fixed-k=4 registry query cannot honestly
            # provide (see HEADLINE comment).
            "dedup_semdedup_scaled": _section(
                _semdedup_scaled, spark, scaled_dir, 16
            ),
            # round 9: the banded embedding dedup in its SCALE
            # configuration (auto n_planes, 4-table amplification) —
            # wall + candidate/survivor accounting so the old row's
            # never-measured quadratic term is now measured at every
            # scale (VERDICT r8 task 1)
            "dedup_embedding_cosine_scaled": _section(
                _embedding_lsh_scaled, spark, dirs
            ),
        }

    # 100x checkpoint: if the 100x-replicated dataset exists
    # (tools/make_scaled_data.py 100 .data/sf10), run the full
    # headline set best-of-2 — the number SCALE.md cites, measured by
    # the harness itself so rounds can diff it.
    scale100 = None
    s100_dir = os.environ.get(
        "SPARK_GRAFT_SCALED100_DIR", os.path.join(here, ".data", "sf10")
    )
    if os.path.isdir(s100_dir):
        spark = _fresh_session("bench-100x", hard=True)
        _warm_scan(spark, s100_dir)
        h_calibration = _section(_calibration, spark, s100_dir)
        jvm_health_100x_start = _jvm_health(spark)
        h = _headline(spark, specs, s100_dir, 2, "100x")
        # end-of-section re-probe: the top-of-section probe measures
        # host speed ENTERING the section; re-running it after ~45
        # heavy queries measures how much the session itself degraded.
        # A calibration_end >> calibration means mid-section numbers
        # carry session-state inflation.
        h_cal_end = _section(_calibration, spark, s100_dir)
        scale100 = {
            "dir": s100_dir,
            "factor_vs_sf": 100.0,
            "total_sec": round(sum(h["queries"].values()), 3),
            "total_serve_sec": _serve_total(h["queries"]),
            "calibration": h_calibration,
            "calibration_end": h_cal_end,
            # code-cache/JIT state entering and leaving the section
            "jvm_health": jvm_health_100x_start,
            "jvm_health_end": _jvm_health(spark),
            **h,
            "dedup_lsh_accounting": _section(
                _lsh_accounting, spark, {"scale100": s100_dir}
            ),
            "dedup_semdedup_scaled": _section(
                _semdedup_scaled, spark, s100_dir, 64
            ),
            # build-once/serve-many splits for the ivfpq, substring
            # and containment indexes
            **_lifecycles(spark, s100_dir),
            # round 7: candidate accounting for containment after the
            # PPJoin+ positional + adaptive-prefix filters
            "containment_accounting": _section(
                _containment_accounting, spark, s100_dir
            ),
            # round 9: banded embedding dedup at 100x (auto n_planes)
            "dedup_embedding_cosine_scaled": _section(
                _embedding_lsh_scaled, spark, {"scale100": s100_dir}
            ),
        }

    total = round(sum(timings.values()), 3)
    full = {
        "metric": "headline_queries_total",
        "value": total,
        "unit": "sec",
        "total_serve_sec": _serve_total(timings),
        # construction time of the headline set, steady state: the sum
        # of each query's min build_s, and of the Spark jobs its
        # fastest-building run started while building
        "build_total_sec": round(sum(head["build"].values()), 3),
        "eager_jobs": sum(
            min(r["eager_jobs"] for r in runs) for runs in head["runs"].values()
        ),
        "build_inclusive": sorted(BUILD_INCLUSIVE),
        "calibration": calibration,
        "jvm_health": jvm_health_start,
        **head,
        "streaming_e2e_sec": min(streaming_e2e_runs),
        "streaming_e2e_runs": streaming_e2e_runs,
        "streaming_e2e_records": stream["runs"],
        "live_freshness_sec": live_freshness,
        "streaming_freshness_budget_sec": 120,
        "scaled": scaled,
        "scale100": scale100,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
    }
    # Full detail goes to a repo file; stdout gets a COMPACT final
    # line, because the driver captures only the last ~2,000 chars of
    # output (BENCH_r03..r05 recorded "parsed": null, VERDICT r5).
    with open(os.path.join(here, "BENCH_DETAIL.json"), "w") as f:
        json.dump(full, f, indent=1)
    print(compact_line(full))


def _count_errors(rec) -> int:
    """Failed sections (``{"error": ...}``) plus failed queries (the
    sections' ``errors`` maps) anywhere in a bench record."""
    if not isinstance(rec, dict):
        return 0
    return (
        ("error" in rec)
        + len(rec.get("errors") or ())
        + sum(_count_errors(v) for v in rec.values())
    )


def compact_line(full: dict) -> str:
    """The <=1,900-char driver-facing summary of a full bench record
    (unit-tested: tests/test_round6_plans.py)."""

    def _top5(q: dict[str, float]) -> dict[str, float]:
        return dict(sorted(q.items(), key=lambda kv: -kv[1])[:5])

    timings = full["queries"]
    scaled, scale100 = full.get("scaled"), full.get("scale100")
    lifecycle = (scale100 or {}).get("ivfpq_lifecycle") or {}
    compact = {
        "metric": full["metric"],
        "value": full["value"],
        "unit": full["unit"],
        "serve_sec": full.get("total_serve_sec"),
        "build_total_sec": full.get("build_total_sec"),
        "eager_jobs": full.get("eager_jobs"),
        "errors": _count_errors(full),
        "queries": timings,
        "n_queries": len(timings),
        "streaming_e2e_sec": full.get("streaming_e2e_sec"),
        "streaming_e2e_runs": full.get("streaming_e2e_runs"),
        "live_freshness_sec": full.get("live_freshness_sec"),
        "streaming_freshness_budget_sec": 120,
        "calibration": {
            "sf": full.get("calibration"),
            "10x": scaled.get("calibration") if scaled else None,
            "100x": scale100.get("calibration") if scale100 else None,
        },
        "scaled_total_sec": scaled["total_sec"] if scaled else None,
        "scaled_serve_sec": scaled.get("total_serve_sec") if scaled else None,
        "scaled_superlinear": scaled["superlinear"] if scaled else None,
        "scale100_total_sec": scale100["total_sec"] if scale100 else None,
        "scale100_serve_sec": scale100.get("total_serve_sec") if scale100 else None,
        "scale100_top5": _top5(scale100["queries"]) if scale100 else None,
        "ivfpq_lifecycle": {
            k: v for k, v in lifecycle.items()
            if k in ("build_sec", "serve_sec", "error")
        } if scale100 else None,
        "sf": full.get("sf"),
        "detail": "BENCH_DETAIL.json",
    }
    line = json.dumps(compact)
    # Hard guarantee: never overflow the driver's tail capture. Drop
    # the widest sections one at a time, RE-CHECKING length after each
    # (ADVICE r6: a single trim pass left the guarantee unenforced —
    # an unusually wide residual record could still overflow), then as
    # a last resort strip every optional key.
    trims = [
        lambda c: c.update(queries=_top5(timings)),
        lambda c: c.pop("scale100_top5", None),
        lambda c: c.update(
            scaled_superlinear=_top5(c["scaled_superlinear"])
        )
        if c.get("scaled_superlinear")
        else None,
        lambda c: c.pop("ivfpq_lifecycle", None),
        lambda c: c.pop("calibration", None),
        lambda c: c.pop("scaled_superlinear", None),
        lambda c: c.pop("streaming_e2e_runs", None),
        lambda c: c.pop("live_freshness_sec", None),
        lambda c: c.pop("queries", None),
    ]
    for trim in trims:
        if len(line) <= 1900:
            break
        trim(compact)
        line = json.dumps(compact)
    assert len(line) <= 1900, f"compact bench line still {len(line)} chars"
    return line


def _lifecycle(spark, build_index, serve, builds: int) -> dict:
    """Index build vs steady-state serve, timed SEPARATELY. A
    registered query that rebuilds its index inside every call
    measures the wrong lifecycle phase for production: at scale the
    index is built once by a scheduled job and each ingest batch is
    served against it. Each of ``builds`` draws runs
    ``build_index(path)`` into a fresh directory, then serves
    ``serve(path)`` from it best-of-2 through :func:`_timed` (the
    first serve pays parquet-footer reads). ``build_sec`` and
    ``serve_sec`` are the best draws; every draw is recorded, so an
    out-of-band draw (the IVF-PQ build swings 36-49 s run-to-run at
    100x, SCALE.md round 12) stays visible inside the artifact."""
    build_runs: list[float] = []
    serves: list[dict] = []
    for _ in range(builds):
        idx = tempfile.mkdtemp(prefix="bench_idx_")
        try:
            t0 = time.perf_counter()
            build_index(idx)
            build_runs.append(round(time.perf_counter() - t0, 3))
            serves.append(_timed(spark, lambda: serve(idx), 2, "lifecycle"))
        finally:
            shutil.rmtree(idx, ignore_errors=True)
    return {
        "build_sec": min(build_runs),
        "serve_sec": min(s["best"] for s in serves),
        "build_runs": build_runs,
        "serve_runs": [s["best"] for s in serves],
        "runs": [s["runs"] for s in serves],
    }


def _lifecycles(spark, data_dir: str) -> dict:
    """The three index lifecycles at ``data_dir``, each a
    :func:`_lifecycle` record or its error: IVF-PQ train + persist,
    then ADC search (two build draws, VERDICT r11 task 1); the
    substring position index and the containment frozen-rank index of
    the 80% corpus, then a 20% batch served against each."""
    from pyspark.sql import functions as F

    from mlops_realtime_data_ingestion_spark.operators.curation import (
        duplicate_substring_chains_incremental,
        substring_index_build,
    )
    from mlops_realtime_data_ingestion_spark.operators.dedup import (
        containment_index_build,
        containment_pairs_incremental,
    )
    from mlops_realtime_data_ingestion_spark.operators.similarity import (
        ivfpq_build,
        ivfpq_search,
    )
    from mlops_realtime_data_ingestion_spark.sources.batch import load_table

    emb = load_table(spark, data_dir, "embeddings")
    probes = emb.filter(F.col("vec_id") < 5)
    docs = load_table(spark, data_dir, "documents")
    corpus = docs.filter(F.col("doc_id") % 5 != 0)
    batch = docs.filter(F.col("doc_id") % 5 == 0)
    return {
        "ivfpq_lifecycle": _section(
            _lifecycle, spark,
            lambda idx: ivfpq_build(emb, idx, dim=64, coarse_k=4, m=4, pq_k=4, iters=2),
            lambda idx: ivfpq_search(spark, idx, probes, dim=64, m=4, nprobe=2, k=5),
            2,
        ),
        "substring_lifecycle": _section(
            _lifecycle, spark,
            lambda idx: substring_index_build(corpus, idx, n=8),
            lambda idx: duplicate_substring_chains_incremental(
                spark.read.parquet(idx), batch, n=8, max_occ=64,
                corpus_is_index=True,
            ),
            1,
        ),
        "containment_lifecycle": _section(
            _lifecycle, spark,
            lambda idx: containment_index_build(corpus, idx, n=3),
            lambda idx: containment_pairs_incremental(
                idx, batch, n=3, threshold=0.6, corpus_is_index=True
            ),
            1,
        ),
    }


def _containment_accounting(spark, data_dir: str) -> dict:
    """Candidates vs survivors for the round-7 containment filter
    stack."""
    from mlops_realtime_data_ingestion_spark.operators.dedup import (
        containment_accounting,
    )
    from mlops_realtime_data_ingestion_spark.sources.batch import load_table

    docs = load_table(spark, data_dir, "documents")
    return containment_accounting(
        docs, id_col="doc_id", text_col="text", n=3, threshold=0.6
    )


def _embedding_lsh_scaled(spark, dirs: dict[str, str]) -> dict:
    """Timing + candidate/survivor accounting for the banded
    embedding dedup (dedup_embedding_cosine's operator) in its SCALE
    configuration — auto n_planes (choose_lsh_planes), 4-table
    amplification, label blocking, threshold 0.3 like the registry
    row. The registry row itself pins n_planes=4 for its static SQL
    oracle, which is a misconfiguration beyond ~10k vectors (see the
    HEADLINE comment); this section is the honest scale measurement.
    ``sec`` is the best noop write, ``build_sec`` the construction
    (where choose_lsh_planes counts the corpus)."""
    from mlops_realtime_data_ingestion_spark.operators.similarity import (
        embedding_lsh_accounting,
        embedding_lsh_pairs,
    )
    from mlops_realtime_data_ingestion_spark.sources.batch import load_table

    out = {}
    for label, d in dirs.items():
        emb = load_table(spark, d, "embeddings")
        t = _timed(
            spark,
            lambda: embedding_lsh_pairs(
                emb, threshold=0.3, n_tables=4, block_cols=("label",)
            ),
            2,
            f"{label}:embedding_lsh",
        )
        acc = embedding_lsh_accounting(
            emb, threshold=0.3, n_tables=4, block_cols=("label",)
        )
        out[label] = {"sec": t["best"], "build_sec": t["build"], "runs": t["runs"], **acc}
    return out


def _semdedup_scaled(spark, data_dir: str, k: int) -> dict:
    """Wall time + prune stats for the Arrow-path SemDeDup with a
    corpus-scaled cluster count."""
    from pyspark.sql import functions as F

    from mlops_realtime_data_ingestion_spark.operators.curation import (
        semdedup_prune_scaled,
    )
    from mlops_realtime_data_ingestion_spark.sources.batch import load_table

    emb = load_table(spark, data_dir, "embeddings")
    t0 = time.perf_counter()
    out = semdedup_prune_scaled(emb, k=k, tau=0.35).agg(
        F.count("*").alias("n"),
        F.sum(F.col("is_dup").cast("long")).alias("pruned"),
    ).collect()[0]
    return {
        "sec": round(time.perf_counter() - t0, 3),
        "k": k,
        "n_vectors": out["n"],
        "pruned": out["pruned"],
    }


def _jaccard_accounting(spark, dirs: dict[str, str]) -> dict:
    """Candidates vs survivors for dedup_ngram_jaccard (same params as
    the registered query) at each labeled data dir."""
    from mlops_realtime_data_ingestion_spark.operators.dedup import (
        ngram_jaccard_accounting,
    )
    from mlops_realtime_data_ingestion_spark.sources.batch import load_table

    out = {}
    for label, d in dirs.items():
        docs = load_table(spark, d, "documents")
        out[label] = ngram_jaccard_accounting(
            docs, id_col="doc_id", text_col="text", n=2,
            threshold=0.5, block_cols=("lang",), length_band=50,
        )
    return out


def _lsh_accounting(spark, dirs: dict[str, str]) -> dict:
    """Candidates vs survivors for BOTH MinHash-LSH paths (self-dedup
    and incremental batch-vs-corpus, same params as the registered
    queries) at each labeled data dir."""
    from pyspark.sql import functions as F

    from mlops_realtime_data_ingestion_spark.operators.dedup import (
        minhash_lsh_join_accounting,
        minhash_lsh_pairs_accounting,
    )
    from mlops_realtime_data_ingestion_spark.sources.batch import load_table

    out = {}
    for label, d in dirs.items():
        docs = load_table(spark, d, "documents")
        out[label] = {
            "self": minhash_lsh_pairs_accounting(
                docs, id_col="doc_id", text_col="text", n=2, threshold=0.5
            ),
            "incremental": minhash_lsh_join_accounting(
                docs.filter(F.col("doc_id") % 5 != 0),
                docs.filter(F.col("doc_id") % 5 == 0),
                id_col="doc_id", text_col="text", n=2, threshold=0.5,
            ),
        }
    return out


def _live_freshness(spark, deadline_s: float = 75.0) -> float | None:
    """Max (materialization - window end) seconds over a short live
    run; None if nothing finalized before the deadline."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from mlops_realtime_data_ingestion_spark.sources.streaming import rate_tx_stream
    from mlops_realtime_data_ingestion_spark.streaming.pipeline import (
        PipelineConfig,
        StreamingPipeline,
    )

    root = tempfile.mkdtemp(prefix="bench_live_")
    cfg = PipelineConfig(
        feature_path=os.path.join(root, "features"),
        checkpoint_root=os.path.join(root, "ckpt"),
        bronze_path=os.path.join(root, "bronze"),
        agg_watermark="5 seconds",
        window="10 seconds",
    )
    pipe = StreamingPipeline(cfg)
    typed = rate_tx_stream(spark, rows_per_second=50).select(
        "hash",
        F.timestamp_seconds("time").alias("tx_time"),
        F.col("fee").cast("double").alias("fee"),
    )
    fresh = None
    ingest_q = pipe.start_ingest(typed, available_now=False)
    agg_q = None
    try:
        t0 = time.time()
        while time.time() - t0 < deadline_s:
            if agg_q is None:
                if os.path.isdir(cfg.bronze_path) and any(
                    f.endswith(".parquet") for f in os.listdir(cfg.bronze_path)
                ):
                    agg_q = pipe.start_aggregate(spark, available_now=False)
            elif pipe.store.exists():
                win_end = F.unix_timestamp("tx_minute") + F.lit(10.0)
                row = (
                    pipe.store.offline(spark)
                    .agg(F.max(F.col("event_time") - win_end).alias("d"))
                    .collect()[0]
                )
                if row["d"] is not None:
                    fresh = round(float(row["d"]), 1)
                    break
            time.sleep(1.0)
    finally:
        ingest_q.stop()
        if agg_q is not None:
            agg_q.stop()
        ingest_q.awaitTermination(20)
        if agg_q is not None:
            agg_q.awaitTermination(20)
        shutil.rmtree(root, ignore_errors=True)
    return fresh


if __name__ == "__main__":
    main()
