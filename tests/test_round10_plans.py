"""Round-10 changes (VERDICT r9 tasks 3/4 + ADVICE r9): the 64-bit
simhash fingerprint path (bit-63 sign boundary, feasible banding at
1e9 docs, oracle parity), the bench build-vs-serve split, the
two-sided superlinear rule, the index-cache hygiene (atexit cleanup +
data-fingerprint keying), and the ivfpq_index_update dim%m guard."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from mlops_realtime_data_ingestion_spark.operators.dedup import (
    _simhash_band_exprs,
    choose_simhash_banding,
    simhash_fingerprints,
    simhash_index_build,
    simhash_join,
    simhash_pairs,
)


def _docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


# ---------------------------------------------------------------
# VERDICT r9 task 4: the 64-bit fingerprint path. The banding rule's
# contract says 1e9 docs at 48 bits has NO feasible block count and
# the fix is bits=64, where b=6 holds random collisions linear.
# ---------------------------------------------------------------

def test_choose_banding_64bit_feasible_at_1e9_docs():
    from mlops_realtime_data_ingestion_spark.operators.dedup import (
        simhash_collision_estimate,
    )

    # at 64 bits the rule must find b=6 FEASIBLE (est <= 10 pairs/doc)
    got = choose_simhash_banding(1_000_000_000, bits=64)
    assert got == {"n_bands": None, "n_blocks": 6}
    # the docstring's arithmetic: exact per-subset sum at b=6 / 64
    # bits (10 subsets at 34 bits + 10 at 30) ~= 5.0e9 <= 1e10
    est = simhash_collision_estimate(1_000_000_000, 64, 6)
    assert est <= 10.0 * 1e9
    assert est == pytest.approx(4.95e9, rel=0.02)
    # and at 48 bits the same corpus is INFEASIBLE: the returned
    # argmin-collision capped plan's estimate exceeds the budget
    got48 = choose_simhash_banding(1_000_000_000, bits=48)
    b = got48["n_blocks"]
    assert b is not None
    assert simhash_collision_estimate(1_000_000_000, 48, b) > 10.0 * 1e9


def test_collision_estimate_exact_not_optimistic():
    from math import comb

    from mlops_realtime_data_ingestion_spark.operators.dedup import (
        simhash_collision_estimate,
    )

    # b=9 at 48 bits (widths: 8x5 + 1x8): the old widest-subset
    # estimate said ~4.9e9 at 1e9 docs; the exact sum is ~1.6e10 —
    # the narrow all-small-block subsets dominate. The rule must NOT
    # call this feasible.
    est = simhash_collision_estimate(1_000_000_000, 48, 9)
    assert est == pytest.approx(
        1e18 / 2 * (comb(8, 5) / 2 ** 33 + comb(8, 6) / 2 ** 30), rel=1e-9
    )
    assert est > 10.0 * 1e9
    # even widths: exact == the old formula (sanity anchor, b=6/48)
    est6 = simhash_collision_estimate(100_000_000, 48, 6)
    assert est6 == pytest.approx(1e16 / 2 * comb(6, 3) / 2 ** 24, rel=1e-9)
    # probe cap: b=11 at 48 bits is collision-feasible at 1e9 docs
    # but amplifies to C(11,3)=165 keys/doc — the rule must skip it
    assert simhash_collision_estimate(1_000_000_000, 48, 11) <= 1e10
    assert choose_simhash_banding(1_000_000_000, bits=48)["n_blocks"] != 11


def test_simhash64_band_exprs_shapes(spark):
    # combination keys at b=6/64 bits: C(6,3) = 20 keys, widest-3
    # blocks = 34 bits <= 63 (no overflow guard trip)
    keys = _simhash_band_exprs(3, 64, None, 6)
    assert len(keys) == 20
    # simple banding at 64 bits: minimal 4 bands of 16 bits
    bands = _simhash_band_exprs(3, 64, None, None)
    assert len(bands) == 4


def test_simhash64_bit63_sign_boundary(spark):
    # A fingerprint with bit 63 set is NEGATIVE as a long; band
    # extraction must still recover the raw top-band bits because
    # every key masks after the arithmetic shift. Pin against a
    # Python-computed reference on crafted fingerprints.
    fps = [-(1 << 63), -1, (1 << 62) | 7, 0, -(1 << 63) | (255 << 48)]
    df = spark.createDataFrame([(i, v) for i, v in enumerate(fps)], ["id", "simhash"])
    bands = _simhash_band_exprs(3, 64, None, None)  # 4 x 16-bit
    got = df.select("id", *[b.alias(f"b{k}") for k, b in enumerate(bands)]).collect()
    for r in got:
        u = fps[r["id"]] & ((1 << 64) - 1)  # two's-complement view
        for k in range(4):
            assert r[f"b{k}"] == (u >> (16 * k)) & 0xFFFF, (
                f"band {k} of fingerprint {fps[r['id']]:#x} wrong"
            )
    # combination keys mask identically: recompute key 0 (blocks
    # {0,1,2} of widths 10) by hand
    keys = _simhash_band_exprs(3, 64, None, 6)
    got0 = df.select("id", keys[0].alias("k0")).collect()
    for r in got0:
        u = fps[r["id"]] & ((1 << 64) - 1)
        b0 = (u >> 0) & 0x3FF
        b1 = (u >> 10) & 0x3FF
        b2 = (u >> 20) & 0x3FF
        assert r["k0"] == b0 | (b1 << 10) | (b2 << 20)


def test_simhash64_fingerprint_impls_agree(spark, sf_dir):
    docs = _docs(spark, sf_dir).limit(120)
    a = {
        r["id"]: r["simhash"]
        for r in simhash_fingerprints(docs, "doc_id", "text", bits=64).collect()
    }
    b = {
        r["id"]: r["simhash"]
        for r in simhash_fingerprints(
            docs, "doc_id", "text", bits=64, impl="sql"
        ).collect()
    }
    assert a == b and len(a) > 0
    # the sign boundary is actually exercised: ~half of 64-bit
    # fingerprints have bit 63 set, i.e. are negative longs
    assert any(v < 0 for v in a.values()), "no fingerprint hit bit 63"


def test_simhash64_combination_equals_simple_banding(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    combi = sorted(
        tuple(r)
        for r in simhash_pairs(
            docs, "doc_id", "text", max_hamming=3, bits=64, n=2, n_blocks=6
        ).collect()
    )
    simple = sorted(
        tuple(r)
        for r in simhash_pairs(
            docs, "doc_id", "text", max_hamming=3, bits=64, n=2, n_bands=4
        ).collect()
    )
    assert combi == simple


def test_simhash64_registry_row_matches_oracle(spark, sf_dir):
    from mlops_realtime_data_ingestion_spark.plans.extension_queries import (
        DEDUP_SIMHASH64_ORACLE,
        dedup_simhash64,
    )
    from tests.oracle_harness import compare_spark_duckdb

    ok, msg = compare_spark_duckdb(
        dedup_simhash64(spark, sf_dir), DEDUP_SIMHASH64_ORACLE, sf_dir
    )
    assert ok, msg


def test_simhash64_incremental_equals_self_restricted(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    corpus = docs.filter(F.col("doc_id") % 5 != 0)
    batch = docs.filter(F.col("doc_id") % 5 == 0)
    inc = sorted(
        tuple(r)
        for r in simhash_join(
            corpus, batch, "doc_id", "text", max_hamming=3, bits=64, n=2,
            n_blocks=6,
        ).collect()
    )
    full = simhash_pairs(
        docs, "doc_id", "text", max_hamming=3, bits=64, n=2, n_blocks=6
    )
    restricted = sorted(
        tuple(r)
        for r in full.filter(
            (F.col("doc_id_1") % 5 == 0) | (F.col("doc_id_2") % 5 == 0)
        ).collect()
    )
    assert inc == restricted


# ---------------------------------------------------------------
# ADVICE r9: ivfpq_index_update must reject dim % m != 0 instead of
# silently appending corrupt PQ codes.
# ---------------------------------------------------------------

def test_ivfpq_index_update_rejects_bad_m(spark, tmp_path):
    from mlops_realtime_data_ingestion_spark.operators.similarity import (
        ivfpq_index_update,
    )

    batch = spark.createDataFrame(
        [(1, [0.0] * 64)], "vec_id long, embedding array<double>"
    )
    with pytest.raises(ValueError, match="not divisible"):
        ivfpq_index_update(spark, str(tmp_path), batch, dim=64, m=5)


# ---------------------------------------------------------------
# ADVICE r9: index-cache hygiene — fingerprint keying busts the cache
# when the source parquet changes; atexit cleanup is registered.
# ---------------------------------------------------------------

def test_index_cache_busts_on_data_change(tmp_path):
    from mlops_realtime_data_ingestion_spark.plans import index_cache

    calls = []
    cache: dict = {}
    data = tmp_path / "documents.parquet"
    data.write_bytes(b"v1")
    p1 = index_cache.build_once(
        cache, str(tmp_path), "documents", "t_", lambda p: calls.append(p)
    )
    p2 = index_cache.build_once(
        cache, str(tmp_path), "documents", "t_", lambda p: calls.append(p)
    )
    assert p1 == p2 and len(calls) == 1  # cache hit while data unchanged
    import os

    st = data.stat()
    data.write_bytes(b"v2-different")
    os.utime(data, ns=(st.st_mtime_ns + 10_000_000_000,) * 2)
    p3 = index_cache.build_once(
        cache, str(tmp_path), "documents", "t_", lambda p: calls.append(p)
    )
    assert p3 != p1 and len(calls) == 2  # regenerated data -> rebuild
    # every handed-out dir is registered for atexit cleanup
    assert any(p1.startswith(d) for d in index_cache._LIVE_DIRS)
    assert any(p3.startswith(d) for d in index_cache._LIVE_DIRS)


# ---------------------------------------------------------------
# ADVICE r9: the two-sided superlinear rule — a quadratic sub-0.5 s
# baseline no longer escapes under the floor, while the round-9
# false alarm stays suppressed.
# ---------------------------------------------------------------

def test_superlinear_rule_two_sided():
    from bench import superlinear_flagged

    def flagged(t_sf: float, t_scaled: float) -> bool:
        return superlinear_flagged(t_sf, t_scaled, 10.0)

    assert flagged(0.1, 10.0)       # quadratic 0.1 s plan: caught now
    assert not flagged(0.31, 6.27)  # r9 false alarm: still suppressed
    assert not flagged(0.04, 1.9)   # sub-2 s noise: absolute floor
    assert flagged(1.0, 25.0)       # the original rule still fires
    assert not flagged(1.0, 15.0)   # 1.5x-linear: fine


# ---------------------------------------------------------------
# tools/bench_diff.py: calibration-normalized round-over-round diff —
# a uniform host slowdown must normalize away; per-plan movement must
# survive normalization; pre-calibration artifacts fall back to raw.
# ---------------------------------------------------------------

def test_bench_diff_normalizes_host_drift():
    import sys

    sys.path.insert(0, "/root/repo/tools")
    from bench_diff import cal_ratio, diff_section

    old_q = {"a": 10.0, "b": 4.0, "c": 0.2}
    # host uniformly 1.5x slower; query b ADDITIONALLY regressed 3x
    new_q = {"a": 15.0, "b": 18.0, "c": 0.3}
    old_cal = {"agg_sec": 1.0, "sort_sec": 2.0}
    new_cal = {"agg_sec": 1.5, "sort_sec": 3.0}
    assert cal_ratio(old_cal, new_cal) == pytest.approx(1.5)
    d = diff_section("x", old_q, new_q, old_cal, new_cal)
    assert d["normalized"] and d["cal_ratio"] == 1.5
    # a: raw 1.5x -> normalized 1.0x, not flagged
    assert "a" not in d["regressed"] and "a" not in d["watch"]
    # b: raw 4.5x -> normalized 3.0x, flagged as regressed
    assert d["regressed"] == {"b": 3.0}
    # c: sub-second both sides -> never classified
    assert "c" not in d["regressed"] and "c" not in d["watch"]
    # medians reflect the normalization
    assert d["median_normalized"] == pytest.approx(1.0, abs=0.01)

    # pre-calibration old artifact: falls back to raw and says so
    d2 = diff_section("x", old_q, new_q, None, new_cal)
    assert not d2["normalized"] and d2["cal_ratio"] is None
    assert d2["regressed"] == {"b": 4.5}


def test_bench_diff_runs_on_the_real_artifact(tmp_path):
    import json
    import sys

    sys.path.insert(0, "/root/repo/tools")
    from bench_diff import diff

    with open("/root/repo/BENCH_DETAIL.json") as f:
        cur = json.load(f)
    # self-diff: every ratio exactly 1.0, nothing flagged
    for section in diff(cur, cur):
        assert section["regressed"] == {} and section["watch"] == {}
        if section["n_shared"]:
            assert section["median_raw"] == pytest.approx(1.0)


# ---------------------------------------------------------------
# Plan-shape pin for the 64-bit row (the same zero-suspect-broadcast
# contract as the other simhash rows — a 20-keys/doc band frame
# statically broadcast is the 100x OOM class) and the shuffle_hash
# band join.
# ---------------------------------------------------------------

def test_simhash64_plan_budget(spark, sf_dir):
    from mlops_realtime_data_ingestion_spark.plans.registry import all_specs
    from tools.broadcast_audit import flagged_broadcasts

    df = all_specs()["dedup_simhash64"].fn(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert flagged_broadcasts(plan) == []
    assert "ShuffledHashJoin" in plan  # the hinted band join held


def test_jvm_health_probe(spark):
    """The JIT/code-cache probe (VERDICT r10 task 1b): real pools with
    sane bounds on a live session, None on a dead one."""
    from bench import _jvm_health

    h = _jvm_health(spark)
    assert h is not None
    assert h["jit_total_compile_ms"] > 0
    assert h["classes_loaded"] > 1000
    pools = h["code_cache"]
    assert pools, "segmented code heap pools expected on JDK 17"
    for name, p in pools.items():
        # max_mb is None when the JVM reports an undefined pool max
        # (MemoryUsage.getMax() == -1, ADVICE r11)
        assert p["used_mb"] > 0, (name, p)
        assert p["max_mb"] is None or p["used_mb"] <= p["max_mb"], (name, p)

    class _Dead:
        @property
        def sparkContext(self):
            raise RuntimeError("stopped")

    assert _jvm_health(_Dead()) is None


def test_simhash64_index_serve_matches_oracle_and_incremental(spark, sf_dir):
    from mlops_realtime_data_ingestion_spark.plans.extension_queries import (
        DEDUP_SIMHASH64_INCR_ORACLE,
        dedup_simhash64_index_serve,
    )
    from tests.oracle_harness import compare_spark_duckdb

    served = dedup_simhash64_index_serve(spark, sf_dir)
    ok, msg = compare_spark_duckdb(served, DEDUP_SIMHASH64_INCR_ORACLE, sf_dir)
    assert ok, msg
    # and the index mode equals the DataFrame-mode incremental join
    docs = _docs(spark, sf_dir)
    df_mode = sorted(
        tuple(r)
        for r in simhash_join(
            docs.filter(F.col("doc_id") % 5 != 0),
            docs.filter(F.col("doc_id") % 5 == 0),
            "doc_id", "text", max_hamming=3, bits=64, n=2, n_blocks=6,
        ).collect()
    )
    assert sorted(tuple(r) for r in served.collect()) == df_mode
