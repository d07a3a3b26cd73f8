"""Benchmark harness (driver contract).

Runs the engine's headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE JSON
line: {"metric": ..., "value": N, "unit": "sec", "queries": {...},
"sf": ...}.

Each query is forced end-to-end through Spark's noop sink — full
materialization of every output row on the executors, no driver-side
collect distorting the measurement.
"""

from __future__ import annotations

import json
import os
import sys
import time

import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

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
    # frozen-rank index (the plan a 100 TB pipeline actually runs per
    # ingest — the index build happens at plan-construction time on
    # first touch and is NOT in the timing, mirroring its scheduled-
    # job role), and simhash block-combination banding (the >= 1e8-doc
    # plan, ~820x fewer random band collisions than 12-bit simple
    # banding for 5x the probe rows)
    "dedup_containment_index_serve",
    "dedup_simhash_combi",
    # round-8: the steady-state batch-vs-corpus simhash serve
    # (completes the incremental family: lsh / substring /
    # containment / simhash); the index-serve spelling reads the
    # persisted fingerprint parquet (build untimed at plan
    # construction, mirroring containment's index-serve row)
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
    # build-once index (first call in each scale section pays the
    # build; the recorded best-of-N is the steady-state serve).
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

# The 100x checkpoint now covers the FULL headline set (it used to be
# a 15-query representative subset, which left 13 queries unmeasured
# at 100x).  Best-of-2 like the other scales, except a second run is
# skipped when the first already took >= 90 s (the rerun would double
# the bench's wall clock); "single_shot" in the JSON lists those.
# The cap was 30 s through round 5, which left the two dedup heavies
# single-shot and charged them +90 s of first-touch noise
# (dedup_cdc_chunks 71.0 s single-shot vs 9.59 s best-of-2 — VERDICT
# r5 "What's wrong" #3); every input table is also warm-scanned once
# before any timing so a single-shot number never pays page-cache
# cold reads.
SCALE100_RERUN_CAP_S = 90.0

# Per-row episode trigger (VERDICT r11 task 2). The fixed 90 s cap was
# right when episodes ran 133 s; with steady states at 2-35 s it left
# a 30-89 s window where an episode shipped evidence-only (r11 run 3:
# dedup_ngram_jaccard 45.5 s vs its 19-20 s steady state). The
# insurance path now fires when a row's FIRST run exceeds
# max(floor, factor x that row's own prior-round recorded best),
# clamped at the 90 s backstop — so a 3x-inflated first run triggers
# the stage-capture + escalating fresh-session/fresh-JVM retries even
# well under 90 s, while rows with no prior (first round, new query)
# keep the backstop behavior unchanged.
EPISODE_MEDIAN_FACTOR = 3.0
EPISODE_FLOOR_S = 15.0


def episode_cap_s(
    prior_sec: float | None,
    factor: float = EPISODE_MEDIAN_FACTOR,
    floor_s: float = EPISODE_FLOOR_S,
    backstop_s: float = SCALE100_RERUN_CAP_S,
) -> float:
    """Slow-run trigger threshold for one 100x row.

    max(floor, factor x prior) bounded above by the backstop; no prior
    (or a nonsense prior) -> backstop. The floor keeps sub-5 s rows
    from tripping on ordinary scheduling jitter; the backstop bound
    means a row whose prior best was ITSELF an episode (3 x 45 s >
    90 s) still gets the old protection rather than none."""
    if prior_sec is None or not (prior_sec > 0):
        return backstop_s
    return min(backstop_s, max(floor_s, factor * prior_sec))


def _prior_scale100_queries() -> dict[str, float]:
    """Last committed round's per-row 100x bests, read from
    BENCH_DETAIL.json BEFORE this run overwrites it. Empty dict when
    the file is absent, unparseable, or measured at a different scale
    factor — every failure degrades to the 90 s backstop, never to a
    crash or a wrong trigger."""
    path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH_DETAIL.json"
    )
    try:
        with open(path) as f:
            detail = json.load(f)
        s100 = detail.get("scale100") or {}
        if s100.get("factor_vs_sf") != 100.0:
            return {}
        return {
            k: float(v)
            for k, v in (s100.get("queries") or {}).items()
            if isinstance(v, (int, float)) and v > 0
        }
    except Exception:
        return {}

# Headline rows whose RECORDED number includes quantizer TRAINING on
# every run — the oracle-checkable inline-retrain ANN spellings. Their
# steady-state serving cost is measured separately (the
# sim_search_ivfpq_serve row + the ivfpq_lifecycle section), so
# round-over-round diffs of query-serving cost should exclude these
# rows; every section reports total_serve_sec = total_sec minus this
# set (VERDICT r9 task 3 — training noise was dominating the scale100
# diff).
BUILD_INCLUSIVE = frozenset({
    "sim_search_ivfpq",
    "sim_search_ivfpq_rerank",
    "sim_search_ivfpq_sampled",
})


def superlinear_flagged(t_sf: float, t_scaled: float, factor: float) -> bool:
    """Two-sided superlinear detector (ADVICE r9). Clause 1: growth
    over 2x-linear with the baseline floored at 0.5 s (sub-0.5 s
    baselines are dominated by fixed per-query overhead that does not
    scale with data — the round-9 false-alarm fix). Clause 2: the
    floor alone lets a sub-0.5 s baseline escape below a fixed ~10 s
    at 10x — a genuinely quadratic 0.1 s plan lands right at ~10 s
    undetected — so also flag growth over 4x-linear on the TRUE
    baseline with a 2 s absolute floor: quadratic 0.1 s -> 10 s trips
    it (10 > 4*10*0.1), while the round-9 false alarm
    (dedup_ngram_jaccard 0.31 s -> 6.27 s, candidate-set growth)
    stays suppressed (6.27 < 4*10*0.31 = 12.4)."""
    return t_scaled > 2 * factor * max(t_sf, 0.5) or (
        t_scaled > 4 * factor * max(t_sf, 1e-3) and t_scaled > 2.0
    )


def _serve_total(timings: dict[str, float]) -> float:
    return round(
        sum(v for n, v in timings.items() if n not in BUILD_INCLUSIVE), 3
    )


def _calibration(spark, data_dir: str) -> dict | None:
    """Fixed canonical probe workload, timed at the top of every scale
    section and recorded in the JSON (VERDICT r9 task 1a): host-speed
    drift between rounds becomes a measured divisor instead of an
    asserted excuse. Two sub-probes over the section's own lineitem
    table — a scan+shuffle+agg (TPC-H Q1 shape) and a global 2-column
    sort — each best-of-2. The plan is FROZEN: changing it breaks
    cross-round comparability, so don't."""
    try:
        from pyspark.sql import functions as F

        from mlops_realtime_data_ingestion_spark.sources.batch import load_table

        li = load_table(spark, data_dir, "lineitem")

        def _best2(df) -> float:
            best = None
            for _ in range(2):
                t0 = time.perf_counter()
                df.write.format("noop").mode("overwrite").save()
                dt = time.perf_counter() - t0
                best = dt if best is None else min(best, dt)
            return round(best, 3)

        agg = _best2(
            li.groupBy("l_returnflag", "l_linestatus").agg(
                F.sum("l_quantity").alias("sq"),
                F.avg("l_extendedprice").alias("ap"),
                F.count("*").alias("c"),
            )
        )
        srt = _best2(
            li.select("l_extendedprice", "l_orderkey").orderBy(
                "l_extendedprice", "l_orderkey"
            )
        )
        return {"agg_sec": agg, "sort_sec": srt}
    except Exception:
        return None


def _pick_stages(
    stages: list, t_start: float, t_end: float, max_stages: int = 5
) -> list:
    """Pure half of _stage_evidence (unit-testable — the path fires
    only on a real slow run, so it must be verified deliberately):
    filter REST-API stage records to those completing inside
    [t_start-5, t_end+5] epoch seconds, order by executor run time,
    and project the attribution fields. Round 11 adds record counts
    and cpu_ms_per_krow (CPU per thousand rows of the stage's widest
    stream) so a slow-mode episode is detectable as a CPU-PER-ROW
    anomaly — the round-10 cdc episode burned ~6x the CPU on the SAME
    row count, which wall-time alone cannot distinguish from more
    data (VERDICT r10 task 1a)."""
    import datetime as _dt

    def _epoch(s: str | None) -> float | None:
        if not s:
            return None
        try:
            return _dt.datetime.strptime(
                s.replace("GMT", "+0000"), "%Y-%m-%dT%H:%M:%S.%f%z"
            ).timestamp()
        except ValueError:
            return None

    in_window = []
    for s in stages:
        done = _epoch(s.get("completionTime"))
        if done is not None and t_start - 5 <= done <= t_end + 5:
            in_window.append(s)
    in_window.sort(key=lambda s: -(s.get("executorRunTime") or 0))
    out = []
    for s in in_window[:max_stages]:
        cpu_ms = (s.get("executorCpuTime") or 0) // 1_000_000
        rows = max(
            s.get("inputRecords") or 0,
            s.get("outputRecords") or 0,
            s.get("shuffleReadRecords") or 0,
            s.get("shuffleWriteRecords") or 0,
        )
        out.append(
            {
                "stage": s.get("stageId"),
                "name": (s.get("name") or "").split("\n")[0][:100],
                "run_ms": s.get("executorRunTime"),
                "gc_ms": s.get("jvmGcTime"),
                "cpu_ms": cpu_ms,
                "spill_mem_b": s.get("memoryBytesSpilled"),
                "spill_disk_b": s.get("diskBytesSpilled"),
                "shuffle_read_b": s.get("shuffleReadBytes"),
                "shuffle_write_b": s.get("shuffleWriteBytes"),
                "tasks": s.get("numCompleteTasks"),
                "rows": rows,
                "cpu_ms_per_krow": round(cpu_ms / (rows / 1000), 3)
                if rows
                else None,
            }
        )
    return out


def _jvm_health(spark) -> dict | None:
    """JIT/code-cache state of the live JVM (VERDICT r10 task 1b).

    The round-10 cdc episode's signature — CPU-bound, zero spill, zero
    GC, survives a fresh SESSION but not a fresh PROCESS — points at
    JVM runtime state, and the leading mechanism is code-cache
    saturation: when HotSpot's code cache fills (JDK 17 default 240 MB
    and a full bench compiles thousands of generated classes), the
    sweeper churns or the compiler shuts off and hot generated methods
    run INTERPRETED. This probe makes that observable: per-pool
    CodeHeap usage, cumulative JIT compile time, and loaded class
    count, recorded with every calibration probe and at each step of
    the slow-mode insurance path. None on any failure — diagnostics
    must never kill the bench."""
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


def _stage_evidence(t_start: float, t_end: float, max_stages: int = 5) -> list | None:
    """Stage-level attribution for a slow run (VERDICT r9 task 1b):
    top completed stages by executor run time from the live UI REST
    API, restricted to stages that completed inside [t_start, t_end]
    (epoch seconds). Records run/GC time, spill, and shuffle bytes so
    an unexplained ballooned run names WHICH stage ballooned and
    whether GC or spill drove it. Requires spark.ui.enabled=true on
    the session (the 100x section enables it); None on any failure."""
    try:
        import urllib.request

        base = "http://localhost:4040/api/v1"
        apps = json.loads(
            urllib.request.urlopen(base + "/applications", timeout=5).read()
        )
        app_id = apps[0]["id"]
        stages = json.loads(
            urllib.request.urlopen(
                f"{base}/applications/{app_id}/stages?status=complete",
                timeout=10,
            ).read()
        )
        return _pick_stages(stages, t_start, t_end, max_stages)
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


def _fresh_session(
    name: str, extra_conf: dict[str, str] | None = None, hard: bool = False
):
    """Stop the current session and build a warmed replacement — one
    session PER SCALE SECTION (round 9). Sharing one JVM across the
    sf0.1 + streaming + 10x + 100x phases let state accumulated by
    earlier phases (MEMORY_AND_DISK caches at three data scales,
    streaming listener/state machinery, ~200 distinct UDFs' worth of
    Python workers) degrade the LATE sections: the same
    dedup_cdc_chunks that costs ~10-16 s at 100x in a fresh session
    recorded 89-98 s inside the shared-session bench, and
    sim_search_lsh_topk 5.7 s vs 0.9 s — neither reproducible by
    running the heavy queries alone, only by the full mixed-scale
    history (round-9 bisection; the bimodal lsh_topk history across
    r4-r8 artifacts was this same effect). Per-scale sessions also
    mirror production: a 100x job is its own Spark application, not
    a tenant of the sf0.1 job's JVM. Cache-reuse warm-run semantics
    are unchanged WITHIN a scale.

    ``hard=True`` (round 11) additionally tears down the JVM itself:
    round-10's cdc episode proved a pathology class that LIVES in the
    JVM (bistable JIT state on the interpreted-HOF hot path — 112 s
    vs 11 s for identical work, surviving stop_spark() because the
    py4j gateway reuses the JVM; SCALE.md round 11). The scale
    sections now get a fresh JVM each, which also completes the
    production mirror — a separate job is a separate JVM, not just a
    separate SparkSession."""
    from mlops_realtime_data_ingestion_spark.session import (
        get_spark,
        hard_reset_jvm,
        stop_spark,
    )

    if hard:
        hard_reset_jvm()
    else:
        stop_spark()
    spark = get_spark(name, extra_conf=extra_conf)
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


# UI enabled ONLY for the 100x section so _stage_evidence can
# attribute a slow run to its ballooned stage via the REST API
# (VERDICT r9 task 1b); the sf0.1/10x sections keep ui off as before.
_UI = {"spark.ui.enabled": "true"}


def _time_scale100_query(
    spark,
    spec,
    s100_dir: str,
    cap_s: float = SCALE100_RERUN_CAP_S,
    fresh_fn=None,
    warm_fn=None,
    fresh_jvm_fn=None,
):
    """One 100x query with the insurance-rerun policy (VERDICT r9
    task 1c), extracted from main() so the rarely-fired slow path is
    integration-testable (tests/test_round10_plans.py drives it with
    cap_s=0). Under the cap: best-of-2 in the same session. At or
    over it: capture stage + JVM evidence of the slow run, rebuild a
    fresh warmed SESSION (same JVM), rerun once; if the same-JVM retry
    is STILL at/over the cap, escalate to a fresh-JVM retry (round 11:
    the round-10 cdc episode survived the fresh-session rerun because
    stop_spark() reuses the JVM — JIT/code-cache state persists; a
    slow same-JVM retry plus a fast fresh-JVM retry localizes the
    episode to JVM runtime state, which is the attribution VERDICT r10
    task 1 demands). Records every number + _jvm_health at each step;
    the recorded best is the min over all runs.

    Any failure inside the retry machinery degrades to the numbers
    already measured instead of propagating (ADVICE r10 medium: a
    raise here left main()'s loop holding a STOPPED session, silently
    truncating the artifact) — the returned session is always live.

    Returns (spark, best_sec, retry_record_or_None) — spark may be a
    NEW session after a slow-path rebuild; the caller continues in it.
    """
    df = spec.fn(spark, s100_dir)
    w0 = time.time()
    t0 = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    best = time.perf_counter() - t0
    w1 = time.time()
    if best < cap_s:
        df = spec.fn(spark, s100_dir)
        t0 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        return spark, min(best, time.perf_counter() - t0), None
    evidence = _stage_evidence(w0, w1)
    record = {
        "first_sec": round(best, 3),
        "cap_s": round(cap_s, 3),
        "fresh_retry_sec": None,
        "fresh_jvm_retry_sec": None,
        "slow_run_stages": evidence,
        "jvm_health_at_slow": _jvm_health(spark),
    }
    if fresh_fn is None:
        fresh_fn = lambda: _fresh_session("bench-100x-retry", extra_conf=_UI)  # noqa: E731
    if warm_fn is None:
        warm_fn = _warm_scan
    if fresh_jvm_fn is None:

        def fresh_jvm_fn():
            from mlops_realtime_data_ingestion_spark.session import (
                get_spark,
                hard_reset_jvm,
            )

            hard_reset_jvm()
            sp = get_spark("bench-100x-jvm-retry", extra_conf=_UI)
            _warm_session(sp)
            return sp

    try:
        spark = fresh_fn()
        warm_fn(spark, s100_dir)
        df = spec.fn(spark, s100_dir)
        t0 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        retry = time.perf_counter() - t0
        record["fresh_retry_sec"] = round(retry, 3)
        record["jvm_health_after_retry"] = _jvm_health(spark)
        best = min(best, retry)
        if retry >= cap_s:
            # same-JVM retry did not shake the episode -> fresh JVM
            spark = fresh_jvm_fn()
            warm_fn(spark, s100_dir)
            df = spec.fn(spark, s100_dir)
            t0 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            jvm_retry = time.perf_counter() - t0
            record["fresh_jvm_retry_sec"] = round(jvm_retry, 3)
            record["jvm_health_fresh_jvm"] = _jvm_health(spark)
            best = min(best, jvm_retry)
    except Exception as e:
        # keep what was measured; hand back a LIVE session
        record["retry_error"] = f"{type(e).__name__}: {e}"[:200]
        from pyspark.sql import SparkSession

        live = SparkSession.getActiveSession()
        if live is None:
            try:
                spark = fresh_fn()
            except Exception:
                from mlops_realtime_data_ingestion_spark.session import get_spark

                spark = get_spark("bench-100x-recover", extra_conf=_UI)
        else:
            spark = live
    return spark, best, record


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]

    from mlops_realtime_data_ingestion_spark.plans.registry import all_specs
    from mlops_realtime_data_ingestion_spark.session import get_spark

    spark = get_spark("bench")
    specs = all_specs()
    _warm_session(spark)
    calibration = _calibration(spark, sf_dir)
    jvm_health_start = _jvm_health(spark)

    # Best-of-3 per query (round 9; was best-of-2): single-shot
    # numbers at sf0.1 swing 2-5x on first-touch effects (page cache,
    # codegen cache, worker reuse), and round 8 showed best-of-2 still
    # lets a noisy session drift the whole headline ~1.2x at
    # sub-second per-query scale (VERDICT r8 "Performance" — the 100x
    # numbers were flat while sf0.1 drifted). The min of three is the
    # reproducible per-query cost; total extra wall is <1 min at
    # sf0.1.
    timings: dict[str, float] = {}
    for name in HEADLINE:
        spec = specs.get(name)
        if spec is None:
            continue
        best = None
        for _ in range(3):
            df = spec.fn(spark, sf_dir)
            t0 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            dt = time.perf_counter() - t0
            best = dt if best is None else min(best, dt)
        timings[name] = round(best, 3)

    # Streaming freshness: wall time to drain the events backlog
    # through the full pipeline (dedup -> bronze -> 1-min window ->
    # feature upsert). BASELINE.md budget: a minute bucket finalizes
    # <= ~2 min after its start; the whole multi-day backlog draining
    # in seconds means per-micro-batch latency is far inside that.
    # Best-of-2 since round 11 (VERDICT r10 task 2): this was the last
    # single-shot headline number — it swung 21.1 -> 57.3 s r9 -> r10
    # on byte-identical streaming code, unfalsifiable without a second
    # run. Both raw runs are recorded so the swing itself stays
    # visible in the artifact.
    streaming_e2e = None
    streaming_e2e_runs: list[float] = []
    stream_spec = specs.get("streaming_pipeline_e2e")
    if stream_spec is not None:
        for _ in range(2):
            t0 = time.perf_counter()
            stream_spec.fn(spark, sf_dir).write.format("noop").mode(
                "overwrite"
            ).save()
            streaming_e2e_runs.append(round(time.perf_counter() - t0, 3))
        streaming_e2e = min(streaming_e2e_runs)

    # Live-trigger freshness: both pipeline queries running
    # continuously against the rate source; report the max delay
    # between a window's end and its materialization in the feature
    # store (reference budget: 120 s per minute bucket). Shortened
    # 10 s windows so finalized output lands within the measurement
    # budget — the operators and plan shape are the production ones.
    # Both auxiliary sections degrade to None/partial rather than
    # killing the primary JSON line.
    try:
        live_freshness = _live_freshness(spark)
    except Exception:
        live_freshness = None

    # Scaling section: if the 10x-replicated dataset exists
    # (tools/make_scaled_data.py), run the headline set there
    # single-shot and flag super-linear queries (>2x the linear
    # expectation vs the sf0.1 best-of-2 numbers).
    scaled = None
    scaled_dir = os.environ.get("SPARK_GRAFT_SCALED_DIR", "/root/repo/.data/sf1")
    scaled_factor = 10.0
    if os.path.isdir(scaled_dir):
        spark = _fresh_session("bench-10x", hard=True)
        s_calibration = _calibration(spark, scaled_dir)
        # best-of-2 like the primary set: a single-shot numerator over
        # a best-of-2 denominator makes the super-linear flag flap on
        # first-touch noise
        s_timings: dict[str, float] = {}
        for name in HEADLINE:
            spec = specs.get(name)
            if spec is None:
                continue
            try:
                best = None
                for _ in range(2):
                    df = spec.fn(spark, scaled_dir)
                    t0 = time.perf_counter()
                    df.write.format("noop").mode("overwrite").save()
                    dt = time.perf_counter() - t0
                    best = dt if best is None else min(best, dt)
                s_timings[name] = round(best, 3)
            except Exception:
                continue
        # Baseline floored at 0.5 s: below that, sf0.1 timings are
        # dominated by fixed per-query overhead (~0.2-0.3 s of plan
        # build + task launch) that does NOT scale with data, so the
        # linear extrapolation 10 x t_sf is meaningless and sub-second
        # queries trip the flag on noise (dedup_ngram_jaccard: 0.31 s
        # baseline, 6.27 s at 10x = "20.2x" while its CANDIDATE count
        # grew 5.4x — the round-9 false alarm). The floor does not
        # blind the detector to real quadratics: a plan under 0.5 s at
        # sf0.1 that scaled quadratically would cost ~50 s at 10x,
        # far over the floored 10 s threshold. (Second clause: see
        # superlinear_flagged.)
        anomalies = {
            n: round(s_timings[n] / max(timings[n], 1e-3), 1)
            for n in s_timings
            if n in timings
            and superlinear_flagged(timings[n], s_timings[n], scaled_factor)
        }
        scaled = {
            "dir": scaled_dir,
            "factor_vs_sf": scaled_factor,
            "total_sec": round(sum(s_timings.values()), 3),
            "total_serve_sec": _serve_total(s_timings),
            "calibration": s_calibration,
            # see the 100x section's calibration_end comment
            "calibration_end": _calibration(spark, scaled_dir),
            "jvm_health_end": _jvm_health(spark),
            "queries": s_timings,
            "superlinear": anomalies,
            # Candidate-vs-survivor accounting for every dedup path at
            # BOTH scales: lets a super-linear wall-clock number be
            # adjudicated as candidate-set growth (work tracks the
            # candidate count, which grows with near-dup density) vs a
            # quadratic plan regression.
            "dedup_ngram_jaccard_accounting": _jaccard_accounting(
                spark, {"sf": sf_dir, "scaled": scaled_dir}
            ),
            "dedup_lsh_accounting": _lsh_accounting(
                spark, {"sf": sf_dir, "scaled": scaled_dir}
            ),
            # SemDeDup in its SCALE configuration: cluster count grown
            # with the corpus, sample-trained centroids, Arrow
            # assignment + chunked per-cluster matmul pruning — the
            # measurement the fixed-k=4 registry query cannot honestly
            # provide (see HEADLINE comment).
            "dedup_semdedup_scaled": _semdedup_scaled(spark, scaled_dir, k=16),
            # round 9: the banded embedding dedup in its SCALE
            # configuration (auto n_planes, 4-table amplification) —
            # wall + candidate/survivor accounting so the old row's
            # never-measured quadratic term is now measured at every
            # scale (VERDICT r8 task 1)
            "dedup_embedding_cosine_scaled": _embedding_lsh_scaled(
                spark, {"sf": sf_dir, "scaled": scaled_dir}
            ),
        }

    # 100x checkpoint: if the 100x-replicated dataset exists
    # (tools/make_scaled_data.py 100 /root/repo/.data/sf10), run the
    # 14-query representative subset single-shot — the number SCALE.md
    # cites, now measured by the harness itself so rounds can diff it.
    scale100 = None
    s100_dir = os.environ.get("SPARK_GRAFT_SCALED100_DIR", "/root/repo/.data/sf10")
    if os.path.isdir(s100_dir):
        spark = _fresh_session("bench-100x", extra_conf=_UI, hard=True)
        _warm_scan(spark, s100_dir)
        h_calibration = _calibration(spark, s100_dir)
        jvm_health_100x_start = _jvm_health(spark)
        h_timings: dict[str, float] = {}
        single_shot: list[str] = []
        slow_mode_retries: dict[str, dict] = {}
        prior_100x = _prior_scale100_queries()
        for name in HEADLINE:
            spec = specs.get(name)
            if spec is None:
                continue
            # per-row trigger (VERDICT r11 task 2): 3x the row's own
            # prior-round recorded best (floor 15 s), 90 s backstop
            # for rows without a prior
            cap = episode_cap_s(prior_100x.get(name))
            try:
                spark, best, retry_rec = _time_scale100_query(
                    spark, spec, s100_dir, cap_s=cap
                )
                if retry_rec is not None:
                    slow_mode_retries[name] = retry_rec
                    if best >= cap:
                        # genuinely expensive: neither session saw a
                        # warm same-session repeat
                        single_shot.append(name)
                h_timings[name] = round(best, 3)
            except Exception:
                continue
        # end-of-section re-probe (round 10): the top-of-section probe
        # measures host speed ENTERING the section; re-running it after
        # ~45 heavy queries measures how much the session itself
        # degraded (the bimodal class: dedup_simhash read 9.4 s
        # mid-section in this round's run vs 3.1 s fresh-session
        # steady state — drift the entry probe cannot see). A
        # calibration_end >> calibration means mid-section numbers
        # carry session-state inflation.
        h_cal_end = _calibration(spark, s100_dir)
        scale100 = {
            "dir": s100_dir,
            "factor_vs_sf": 100.0,
            "total_sec": round(sum(h_timings.values()), 3),
            "total_serve_sec": _serve_total(h_timings),
            "calibration": h_calibration,
            "calibration_end": h_cal_end,
            # code-cache/JIT state entering and leaving the section:
            # the episode class under investigation is JVM-level
            # (SCALE.md round 11), so every 100x artifact now carries
            # the JVM evidence needed to adjudicate a recurrence.
            "jvm_health": jvm_health_100x_start,
            "jvm_health_end": _jvm_health(spark),
            "queries": h_timings,
            "single_shot": single_shot,
            "slow_mode_retries": slow_mode_retries,
            # trigger config + how many rows had a prior to scale to,
            # so the artifact documents which caps were in force
            "episode_trigger": {
                "median_factor": EPISODE_MEDIAN_FACTOR,
                "floor_s": EPISODE_FLOOR_S,
                "backstop_s": SCALE100_RERUN_CAP_S,
                "rows_with_prior": len(prior_100x),
            },
            "dedup_lsh_accounting": _lsh_accounting(spark, {"scale100": s100_dir}),
            "dedup_semdedup_scaled": _semdedup_scaled(spark, s100_dir, k=64),
            # build-once/serve-many split; the sim_search_ivfpq row in
            # `queries` above keeps the retrain-inline number for
            # round-over-round comparison
            "ivfpq_lifecycle": _ivfpq_lifecycle(spark, s100_dir),
            # same split for the substring-dedup index: build the
            # 90-bit position index once, serve a 20%-batch
            # incremental chain against it (steady-state ingest)
            "substring_lifecycle": _substring_lifecycle(spark, s100_dir),
            # round 7: the containment family gets the same
            # build-once/serve-per-batch split (frozen-rank index)
            "containment_lifecycle": _containment_lifecycle(spark, s100_dir),
            # round 7: candidate accounting for containment after the
            # PPJoin+ positional + adaptive-prefix filters
            "containment_accounting": _containment_accounting_safe(
                spark, s100_dir
            ),
            # round 9: banded embedding dedup at 100x (auto n_planes)
            "dedup_embedding_cosine_scaled": _embedding_lsh_scaled(
                spark, {"scale100": s100_dir}
            ),
        }

    total = round(sum(timings.values()), 3)
    full = {
        "metric": "headline_queries_total",
        "value": total,
        "unit": "sec",
        "total_serve_sec": _serve_total(timings),
        "build_inclusive": sorted(BUILD_INCLUSIVE),
        "calibration": calibration,
        "jvm_health": jvm_health_start,
        "queries": timings,
        "streaming_e2e_sec": streaming_e2e,
        "streaming_e2e_runs": streaming_e2e_runs,
        "live_freshness_sec": live_freshness,
        "streaming_freshness_budget_sec": 120,
        "scaled": scaled,
        "scale100": scale100,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
    }
    # Full detail goes to a repo file; stdout gets a COMPACT final
    # line. The driver captures only the last ~2,000 chars of output,
    # and the full record (~10 KB with per-query timings at three
    # scales + dedup accounting) overflowed that from round 3 on —
    # BENCH_r03/r04/r05.json all recorded "parsed": null (VERDICT r5
    # "What's wrong" #1). The compact line carries the headline metric
    # plus per-scale totals and the top-5 slowest at each scale;
    # everything else lives in BENCH_DETAIL.json next to this script.
    detail_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH_DETAIL.json"
    )
    with open(detail_path, "w") as f:
        json.dump(full, f, indent=1)
    print(compact_line(full))


def compact_line(full: dict) -> str:
    """The <=1,900-char driver-facing summary of a full bench record
    (unit-tested: tests/test_round6_plans.py)."""

    def _top5(q: dict[str, float]) -> dict[str, float]:
        return dict(sorted(q.items(), key=lambda kv: -kv[1])[:5])

    timings = full["queries"]
    scaled, scale100 = full.get("scaled"), full.get("scale100")
    compact = {
        "metric": full["metric"],
        "value": full["value"],
        "unit": full["unit"],
        "serve_sec": full.get("total_serve_sec"),
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
        "scale100_slow_retries": sorted(scale100.get("slow_mode_retries") or ())
        if scale100
        else None,
        "scale100_top5": _top5(scale100["queries"]) if scale100 else None,
        "ivfpq_lifecycle": scale100.get("ivfpq_lifecycle") if scale100 else None,
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
        lambda c: c.pop("scale100_slow_retries", None),
        lambda c: c.pop("scaled_superlinear", None),
        lambda c: c.pop("streaming_e2e_runs", None),
        lambda c: c.pop("queries", None),
    ]
    for trim in trims:
        if len(line) <= 1900:
            break
        trim(compact)
        line = json.dumps(compact)
    assert len(line) <= 1900, f"compact bench line still {len(line)} chars"
    return line


def _ivfpq_lifecycle(spark, data_dir: str) -> dict | None:
    """IVF-PQ build vs serve, timed SEPARATELY. The registered
    sim_search_ivfpq query retrains codebooks inside every call (the
    oracle-checkable spelling), so its headline number measures the
    wrong lifecycle phase for production: at scale the index is built
    once by a scheduled job and searches amortize the training to
    zero. This reports both: build_sec (train + persist the index)
    and serve_sec (ADC search against the persisted index, corpus
    vectors never re-read). None on failure — best-effort like the
    accounting sections.

    Best-of-2 over the WHOLE lifecycle with every run recorded
    (round 12, VERDICT r11 task 1): the r10->r11 movement (build
    29.6->51.6 s, serve 1.99->3.37 s at 100x) was adjudicated by a
    two-arm fresh-vs-warm-JVM probe (SCALE.md round 12, "IVF-PQ
    lifecycle inflation at 100x") — a prior same-JVM lifecycle run
    gives NO speedup (arm B: sf0.1 warmup then 100x builds 37.4,
    44.5 s vs arm A fresh 39.8, 48.8, 36.2 s), refuting the
    fresh-JVM-cold-start hypothesis; the build simply swings
    36-49 s run-to-run (SCALE.md round 12). A single-shot build was
    the only headline-adjacent number still drawn once; two draws
    with the band recorded make the artifact self-diagnosing."""
    import shutil
    import tempfile

    try:
        from pyspark.sql import functions as F

        from mlops_realtime_data_ingestion_spark.operators.similarity import (
            ivfpq_build,
            ivfpq_search,
        )
        from mlops_realtime_data_ingestion_spark.sources.batch import load_table

        emb = load_table(spark, data_dir, "embeddings")
        queries = emb.filter(F.col("vec_id") < 5)
        build_runs: list[float] = []
        serve_runs: list[float] = []
        for _ in range(2):
            idx = tempfile.mkdtemp(prefix="ivfpq_bench_")
            try:
                t0 = time.perf_counter()
                ivfpq_build(emb, idx, dim=64, coarse_k=4, m=4, pq_k=4, iters=2)
                build_runs.append(round(time.perf_counter() - t0, 3))
                # best-of-2 serve (first touch pays parquet-footer reads)
                serve = None
                for _ in range(2):
                    t0 = time.perf_counter()
                    ivfpq_search(
                        spark, idx, queries, dim=64, m=4, nprobe=2, k=5
                    ).write.format("noop").mode("overwrite").save()
                    dt = time.perf_counter() - t0
                    serve = dt if serve is None else min(serve, dt)
                serve_runs.append(round(serve, 3))
            finally:
                shutil.rmtree(idx, ignore_errors=True)
        return {
            "build_sec": min(build_runs),
            "serve_sec": min(serve_runs),
            "build_runs": build_runs,
            "serve_runs": serve_runs,
        }
    except Exception:
        return None


def _substring_lifecycle(spark, data_dir: str) -> dict | None:
    """Substring-dedup index build vs incremental serve, timed
    SEPARATELY (mirrors _ivfpq_lifecycle): build_sec persists the
    90-bit position index for the 80% corpus once; serve_sec chains a
    20% batch against the persisted index (best-of-2) — the
    steady-state per-ingest cost, vs the full self-run the
    substring_dedup_chains headline row measures. None on failure."""
    import shutil
    import tempfile

    try:
        from pyspark.sql import functions as F

        from mlops_realtime_data_ingestion_spark.operators.curation import (
            duplicate_substring_chains_incremental,
            substring_index_build,
        )
        from mlops_realtime_data_ingestion_spark.sources.batch import load_table

        docs = load_table(spark, data_dir, "documents")
        corpus = docs.filter(F.col("doc_id") % 5 != 0)
        batch = docs.filter(F.col("doc_id") % 5 == 0)
        idx = tempfile.mkdtemp(prefix="ss_idx_bench_")
        try:
            t0 = time.perf_counter()
            substring_index_build(corpus, idx, n=8)
            build = time.perf_counter() - t0
            serve = None
            for _ in range(2):
                t0 = time.perf_counter()
                duplicate_substring_chains_incremental(
                    spark.read.parquet(idx), batch, n=8, max_occ=64,
                    corpus_is_index=True,
                ).write.format("noop").mode("overwrite").save()
                dt = time.perf_counter() - t0
                serve = dt if serve is None else min(serve, dt)
            return {"build_sec": round(build, 3), "serve_sec": round(serve, 3)}
        finally:
            shutil.rmtree(idx, ignore_errors=True)
    except Exception:
        return None


def _containment_lifecycle(spark, data_dir: str) -> dict | None:
    """Containment-dedup index build vs incremental serve, timed
    SEPARATELY (mirrors _substring_lifecycle): build_sec persists the
    frozen-rank token index for the 80% corpus once; serve_sec runs
    the two batch-proportional probe directions of a 20% batch
    against it (best-of-2) — the steady-state per-ingest cost, vs the
    full self-run the dedup_containment headline row measures. None
    on failure."""
    import shutil
    import tempfile

    try:
        from pyspark.sql import functions as F

        from mlops_realtime_data_ingestion_spark.operators.dedup import (
            containment_index_build,
            containment_pairs_incremental,
        )
        from mlops_realtime_data_ingestion_spark.sources.batch import load_table

        docs = load_table(spark, data_dir, "documents")
        corpus = docs.filter(F.col("doc_id") % 5 != 0)
        batch = docs.filter(F.col("doc_id") % 5 == 0)
        idx = tempfile.mkdtemp(prefix="cont_idx_bench_")
        try:
            t0 = time.perf_counter()
            containment_index_build(corpus, idx, n=3)
            build = time.perf_counter() - t0
            serve = None
            for _ in range(2):
                t0 = time.perf_counter()
                containment_pairs_incremental(
                    idx, batch, n=3, threshold=0.6, corpus_is_index=True
                ).write.format("noop").mode("overwrite").save()
                dt = time.perf_counter() - t0
                serve = dt if serve is None else min(serve, dt)
            return {"build_sec": round(build, 3), "serve_sec": round(serve, 3)}
        finally:
            shutil.rmtree(idx, ignore_errors=True)
    except Exception:
        return None


def _containment_accounting_safe(spark, data_dir: str) -> dict | None:
    """Candidates vs survivors for the round-7 containment filter
    stack; None on failure (best-effort like the other accounting)."""
    try:
        from mlops_realtime_data_ingestion_spark.operators.dedup import (
            containment_accounting,
        )
        from mlops_realtime_data_ingestion_spark.sources.batch import load_table

        docs = load_table(spark, data_dir, "documents")
        return containment_accounting(
            docs, id_col="doc_id", text_col="text", n=3, threshold=0.6
        )
    except Exception:
        return None


def _embedding_lsh_scaled(spark, dirs: dict[str, str]) -> dict | None:
    """Wall time + candidate/survivor accounting for the banded
    embedding dedup (dedup_embedding_cosine's operator) in its SCALE
    configuration — auto n_planes (choose_lsh_planes), 4-table
    amplification, label blocking, threshold 0.3 like the registry
    row. The registry row itself pins n_planes=4 for its static SQL
    oracle, which is a misconfiguration beyond ~10k vectors (see the
    HEADLINE comment); this section is the honest scale measurement.
    None on failure, like every accounting section."""
    try:
        from mlops_realtime_data_ingestion_spark.operators.similarity import (
            embedding_lsh_accounting,
            embedding_lsh_pairs,
        )
        from mlops_realtime_data_ingestion_spark.sources.batch import load_table

        out = {}
        for label, d in dirs.items():
            emb = load_table(spark, d, "embeddings")
            best = None
            for _ in range(2):
                t0 = time.perf_counter()
                embedding_lsh_pairs(
                    emb, threshold=0.3, n_tables=4, block_cols=("label",)
                ).write.format("noop").mode("overwrite").save()
                dt = time.perf_counter() - t0
                best = dt if best is None else min(best, dt)
            acc = embedding_lsh_accounting(
                emb, threshold=0.3, n_tables=4, block_cols=("label",)
            )
            out[label] = {"sec": round(best, 3), **acc}
        return out
    except Exception:
        return None


def _semdedup_scaled(spark, data_dir: str, k: int) -> dict | None:
    """Wall time + prune stats for the Arrow-path SemDeDup with a
    corpus-scaled cluster count; None on failure (section stays
    best-effort like the accounting entries)."""
    try:
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
    except Exception:
        return None


def _jaccard_accounting(spark, dirs: dict[str, str]) -> dict | None:
    """Candidates vs survivors for dedup_ngram_jaccard (same params as
    the registered query) at each labeled data dir; None on failure
    (accounting must never kill the primary JSON line)."""
    try:
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
    except Exception:
        return None


def _lsh_accounting(spark, dirs: dict[str, str]) -> dict | None:
    """Candidates vs survivors for BOTH MinHash-LSH paths (self-dedup
    and incremental batch-vs-corpus, same params as the registered
    queries) at each labeled data dir; None on failure."""
    try:
        from mlops_realtime_data_ingestion_spark.operators.dedup import (
            minhash_lsh_join_accounting,
            minhash_lsh_pairs_accounting,
        )
        from mlops_realtime_data_ingestion_spark.sources.batch import load_table
        from pyspark.sql import functions as F

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
    except Exception:
        return None


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
