"""Round-6 fixes: persist hygiene audit, tws-path coverage gate,
sliding-passage tail clamp, MAD NULL handling (ADVICE r5 + VERDICT r5
tasks 5/6)."""

from __future__ import annotations

import ast
import glob
import importlib.util
import os

import pytest

PKG = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "mlops_realtime_data_ingestion_spark",
)


# ---------------------------------------------------------------
# Persist hygiene: every function that persists a frame must either
# unpersist it before returning (the accounting convention,
# dedup.py ngram_jaccard_accounting) or carry an explicit cache
# contract in its docstring (the session-lifetime index convention,
# dedup.py _lsh_join_frames). VERDICT r5 task 6 / ADVICE r5: round 5
# leaked corpus-sized caches from containment_pairs and dsir_select
# with neither.
# ---------------------------------------------------------------

_CONTRACT_MARKERS = ("cache contract", "stay persisted", "stays persisted")


def _persisting_functions():
    out = []
    for path in glob.glob(os.path.join(PKG, "**", "*.py"), recursive=True):
        src = open(path).read()
        if ".persist(" not in src:
            continue
        tree = ast.parse(src)
        for node in ast.walk(tree):
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                seg = ast.get_source_segment(src, node) or ""
                if ".persist(" in seg:
                    out.append((path, node, seg))
    return out


def test_every_persist_is_unpersisted_or_contracted():
    offenders = []
    for path, node, seg in _persisting_functions():
        doc = (ast.get_docstring(node) or "").lower()
        if "unpersist" in seg:
            continue
        if any(m in doc for m in _CONTRACT_MARKERS):
            continue
        offenders.append(f"{os.path.relpath(path, PKG)}:{node.lineno} {node.name}")
    assert not offenders, (
        "functions persist frames without unpersisting or documenting a "
        f"cache contract: {offenders}"
    )


def test_known_leaks_from_round5_are_gone():
    """The two ADVICE-r5 leak sites must no longer persist at all
    (their reuse was restructured: containment re-derives its shingle
    projection, dsir builds the bucket table straight off the token
    stream)."""
    import inspect

    from mlops_realtime_data_ingestion_spark.operators.curation import dsir_select
    from mlops_realtime_data_ingestion_spark.operators.dedup import containment_pairs

    assert ".persist(" not in inspect.getsource(containment_pairs)
    assert ".persist(" not in inspect.getsource(dsir_select)


# ---------------------------------------------------------------
# Plan-shape regression: SCALE.md claims the chain family runs in 4
# keyed exchanges (fp seed window+group share one, diag window,
# island window, summary group). Make the claim executable so a
# future edit that sneaks in a 5th shuffle (e.g. splitting the seed
# window from the collect_list group) fails loudly.
# ---------------------------------------------------------------


def _n_exchanges(df) -> int:
    import re

    df.write.format("noop").mode("overwrite").save()
    plan = df._jdf.queryExecution().executedPlan().toString()
    return len(re.findall(r"Exchange hashpartitioning", plan))


def test_chain_family_exchange_budget(spark):
    from pyspark.sql import functions as F

    from mlops_realtime_data_ingestion_spark.operators.curation import (
        duplicate_substring_chains,
        duplicate_substring_chains_incremental,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    assert _n_exchanges(duplicate_substring_chains(docs, n=8, max_occ=64)) == 4
    # incremental keeps the same budget: the union feeds the same fp
    # window; no extra exchange for the batch flag
    assert (
        _n_exchanges(
            duplicate_substring_chains_incremental(
                docs.filter(F.col("doc_id") % 5 != 0),
                docs.filter(F.col("doc_id") % 5 == 0),
                n=8,
                max_occ=64,
            )
        )
        == 4
    )


# ---------------------------------------------------------------
# bench compact line (VERDICT r5 task 1): the driver's tail capture
# holds ~2,000 chars; the final stdout line must stay under that for
# every realistic and pathological record size.
# ---------------------------------------------------------------


def test_bench_compact_line_stays_under_driver_cap():
    import json

    from bench import HEADLINE, compact_line

    # realistic: every headline query present at three scales with
    # worst-case float widths
    q = {name: 123.456 for name in HEADLINE}
    cal = {"agg_sec": 12345.678, "sort_sec": 12345.678}
    # per-run records stay in the detail file, never in the line
    run = {"build_s": 123.456, "eager_jobs": 999, "run_s": 123.456,
           "jobs": 999, "stages": 9999, "tasks": 99999, "cpu_s": 12345.678,
           "input_rows": 10**12}
    runs = {name: [run] * 3 for name in HEADLINE}
    errors = {name: "Py4JJavaError: " + "x" * 480 for name in list(q)[:3]}
    full = {
        "metric": "headline_queries_total",
        "value": 9999.999,
        "unit": "sec",
        "total_serve_sec": 9999.999,
        "build_total_sec": 99999.999,
        "eager_jobs": 99999,
        "calibration": cal,
        "queries": q,
        "build": q,
        "runs": runs,
        "errors": {},
        "streaming_e2e_sec": 123.456,
        "streaming_e2e_runs": [123.456, 123.456],
        "live_freshness_sec": 123.4,
        "scaled": {
            "total_sec": 99999.999,
            "total_serve_sec": 99999.999,
            "calibration": cal,
            "superlinear": {},
            "queries": q,
            "build": q,
            "runs": runs,
            "errors": errors,
            "dedup_semdedup_scaled": {"error": "RuntimeError: " + "y" * 480},
        },
        "scale100": {
            "total_sec": 99999.999,
            "total_serve_sec": 99999.999,
            "calibration": cal,
            "queries": q,
            "build": q,
            "runs": runs,
            "errors": errors,
            "ivfpq_lifecycle": {"build_sec": 12345.678, "serve_sec": 12345.678,
                                "build_runs": [12345.678] * 2,
                                "runs": [[run] * 2] * 2},
        },
        "sf": 0.1,
    }
    line = compact_line(full)
    assert len(line) <= 1900
    parsed = json.loads(line)
    assert parsed["value"] == 9999.999 and parsed["n_queries"] == len(HEADLINE)
    assert parsed["build_total_sec"] == 99999.999 and parsed["eager_jobs"] == 99999
    # 3 + 3 failed queries and one failed section
    assert parsed["errors"] == 7
    assert parsed["ivfpq_lifecycle"] == {"build_sec": 12345.678, "serve_sec": 12345.678}

    # pathological: a superlinear map naming half the registry still
    # triggers the trim fallback rather than overflowing
    full["scaled"]["superlinear"] = {f"very_long_query_name_{i}": 99.9 for i in range(40)}
    line2 = compact_line(full)
    assert len(line2) <= 1900 and json.loads(line2)["scale100_total_sec"] == 99999.999

    # adversarial (ADVICE r6): absurdly wide names everywhere — the
    # re-checking trim loop must STILL land under the cap, shedding
    # optional sections until it fits
    wide = {("q" * 120) + str(i): 99999.999 for i in range(60)}
    full["queries"] = wide
    full["scaled"] = {"total_sec": 9.9, "superlinear": dict(wide), "queries": wide}
    full["scale100"] = {"total_sec": 9.9, "queries": dict(wide)}
    line3 = compact_line(full)
    assert len(line3) <= 1900
    parsed3 = json.loads(line3)
    assert parsed3["value"] == 9999.999 and parsed3["detail"] == "BENCH_DETAIL.json"


# ---------------------------------------------------------------
# transformWithStateInPandas coverage (ADVICE r5, medium): the tws
# spelling must not be auto-selected while untested; where protobuf
# exists this test exercises it and checks agreement with legacy.
# ---------------------------------------------------------------


def _has_protobuf() -> bool:
    try:
        return importlib.util.find_spec("google.protobuf") is not None
    except ModuleNotFoundError:
        return False


def test_auto_api_is_legacy_until_tws_is_covered():
    import inspect

    from mlops_realtime_data_ingestion_spark.streaming import stateful

    src = inspect.getsource(stateful.record_high_tracker)
    assert 'api = "legacy"' in src  # auto resolves to the tested path


@pytest.mark.skipif(not _has_protobuf(), reason="tws needs google.protobuf")
def test_record_high_tracker_tws_agrees_with_legacy(spark, tmp_path):
    """Runs the transformWithStateInPandas path where it CAN run and
    asserts it emits exactly the legacy path's rows."""
    import json

    from pyspark.sql import types as T

    from mlops_realtime_data_ingestion_spark.streaming.stateful import (
        record_high_tracker,
    )

    rows = []
    vals = [5.0, 3.0, 7.0, 7.0, 6.5, 9.0, 1.0]
    for u in (1, 2):
        for i, v in enumerate(vals):
            rows.append(
                {
                    "user_id": u,
                    "ts_micros": 1_700_000_000_000_000 + i * 1_000_000,
                    "event_id": i,
                    "value": v + u,
                }
            )
    src = tmp_path / "events"
    src.mkdir()
    (src / "part-0.json").write_text("\n".join(json.dumps(r) for r in rows))
    schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("ts_micros", T.LongType()),
            T.StructField("event_id", T.LongType()),
            T.StructField("value", T.DoubleType()),
        ]
    )

    def run(api: str, sink: str):
        stream = (
            spark.readStream.schema(schema)
            .json(str(src))
            .selectExpr(
                "user_id", "timestamp_micros(ts_micros) AS ts", "event_id", "value"
            )
        )
        q = (
            record_high_tracker(stream, api=api)
            .writeStream.format("memory")
            .queryName(sink)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return {
            (r["user_id"], r["event_id"], r["record_rank"])
            for r in spark.sql(f"SELECT * FROM {sink}").collect()
        }

    assert run("tws", "rh_tws_sink") == run("legacy", "rh_leg_sink")


# ---------------------------------------------------------------
# sliding_passages tail clamp (ADVICE r5, low): the last window
# back-shifts onto the doc end — no passage shorter than
# min(window, n_tokens).
# ---------------------------------------------------------------


def test_sliding_passages_clamps_last_window(spark):
    from pyspark.sql import functions as F

    from mlops_realtime_data_ingestion_spark.operators.text import sliding_passages

    # 97 tokens, window 64, stride 32: windows [1,64], [33,96] and the
    # tail CLAMPED to [34,97] (round 5 truncated it to [65,97]).
    doc97 = " ".join(f"t{i}" for i in range(1, 98))
    doc10 = " ".join(f"s{i}" for i in range(1, 11))
    df = spark.createDataFrame(
        [(1, doc97), (2, doc10)], ["doc_id", "text"]
    )
    out = {
        (r["doc_id"], r["passage_seq"]): (r["start_tok"], r["end_tok"])
        for r in sliding_passages(df, window=64, stride=32).collect()
    }
    assert out[(1, 1)] == (1, 64)
    assert out[(1, 2)] == (33, 96)
    assert out[(1, 3)] == (34, 97)
    assert out[(2, 1)] == (1, 10)  # short doc: single full-doc passage
    # every passage is exactly min(window, n_tokens) wide
    widths = (
        sliding_passages(df, window=64, stride=32)
        .select(
            "doc_id",
            (F.col("end_tok") - F.col("start_tok") + 1).alias("w"),
            F.size(F.split("passage_text", " ")).alias("n_words"),
        )
        .collect()
    )
    for r in widths:
        assert r["w"] == (64 if r["doc_id"] == 1 else 10)
        assert r["n_words"] == r["w"]


def test_sliding_passages_matches_oracle_with_tail(spark):
    """Spark vs DuckDB on a fixture whose token counts include
    clamp-triggering tails (n % stride != 0 past the window)."""
    from tests.oracle_harness import duckdb_connection
    import duckdb

    from mlops_realtime_data_ingestion_spark.operators.text import sliding_passages
    from mlops_realtime_data_ingestion_spark.plans.curation_queries import (
        PASSAGES_SLIDING_ORACLE,
    )

    sf = "/root/testdata/sf0.001"
    docs = spark.read.parquet(os.path.join(sf, "documents.parquet"))
    got = {
        tuple(r)
        for r in sliding_passages(docs, window=64, stride=32)
        .select("doc_id", "passage_seq", "start_tok", "end_tok", "passage_text")
        .collect()
    }
    con = duckdb_connection(sf)
    want = {tuple(r) for r in con.execute(PASSAGES_SLIDING_ORACLE).fetchall()}
    assert got == want and len(want) > 0


# ---------------------------------------------------------------
# mad_anomalies NULL handling (ADVICE r5, low): NULL values must not
# shift the positional medians.
# ---------------------------------------------------------------


def test_mad_anomalies_null_values_do_not_shift_median(spark):
    import datetime

    from mlops_realtime_data_ingestion_spark.operators.timeseries import (
        mad_anomalies,
    )

    t0 = datetime.datetime(2024, 1, 1)
    vals = [10.0, 10.5, 9.8, 10.2, 10.1, 9.9, 10.3, 100.0]
    rows, eid = [], 0
    for v in vals:
        rows.append((1, t0 + datetime.timedelta(minutes=eid), eid, v))
        eid += 1
    base = spark.createDataFrame(rows, ["user_id", "ts", "event_id", "value"])
    with_nulls = base.union(
        spark.createDataFrame(
            [
                (1, t0 + datetime.timedelta(minutes=100), 100, None),
                (1, t0 + datetime.timedelta(minutes=101), 101, None),
                (1, t0 + datetime.timedelta(minutes=102), 102, None),
            ],
            base.schema,
        )
    )

    def res(df):
        return {
            (r["user_id"], r["event_id"], r["robust_z"])
            for r in mad_anomalies(
                df,
                series_cols=["user_id"],
                ts_col="ts",
                value_col="value",
                z_threshold=3.5,
                tiebreak_col="event_id",
            ).collect()
        }

    clean = res(base)
    assert clean == res(with_nulls)  # NULLs neither shift nor emit
    assert any(eid == 7 for (_, eid, _) in clean)  # the spike is caught


# ---------------------------------------------------------------
# 90-bit chain fingerprints (VERDICT r5 task 5): the substring-chain
# key is the PAIR (fp, fp3). Mirrors the r5 30-bit regression — a
# collision in the packed 60-bit fp must no longer fabricate a match.
# ---------------------------------------------------------------


def test_incremental_substring_chains_matches_full_run(spark, tmp_path):
    """duplicate_substring_chains_incremental == the full self-run
    restricted to batch ids, in BOTH modes (corpus DataFrame and
    prebuilt position index) — the steady-state ingest contract."""
    from pyspark.sql import functions as F

    from mlops_realtime_data_ingestion_spark.operators.curation import (
        duplicate_substring_chains,
        duplicate_substring_chains_incremental,
        substring_index_build,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    corpus = docs.filter(F.col("doc_id") % 5 != 0)
    batch = docs.filter(F.col("doc_id") % 5 == 0)
    ref = {
        tuple(r)
        for r in duplicate_substring_chains(docs, n=8, max_occ=64)
        .join(batch.select("doc_id"), "doc_id")
        .collect()
    }
    inc = {
        tuple(r)
        for r in duplicate_substring_chains_incremental(
            corpus, batch, n=8, max_occ=64
        ).collect()
    }
    assert inc == ref
    idx = str(tmp_path / "ss_idx")
    substring_index_build(corpus, idx, n=8)
    inc2 = {
        tuple(r)
        for r in duplicate_substring_chains_incremental(
            spark.read.parquet(idx), batch, n=8, max_occ=64,
            corpus_is_index=True,
        ).collect()
    }
    assert inc2 == ref


def test_substring_index_update_two_ingests_match_full(spark, tmp_path):
    """Index lifecycle across TWO ingests: build on corpus0, chain
    batch1 and append it, then chain batch2 against the grown index —
    batch2's result must equal the full self-run over all three
    slices restricted to batch2 ids."""
    from pyspark.sql import functions as F

    from mlops_realtime_data_ingestion_spark.operators.curation import (
        duplicate_substring_chains,
        duplicate_substring_chains_incremental,
        substring_index_build,
        substring_index_update,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    corpus0 = docs.filter(F.col("doc_id") % 5 > 1)   # 60%
    batch1 = docs.filter(F.col("doc_id") % 5 == 1)   # 20%
    batch2 = docs.filter(F.col("doc_id") % 5 == 0)   # 20%
    idx = str(tmp_path / "ss_idx_grow")
    substring_index_build(corpus0, idx, n=8)
    substring_index_update(batch1, idx, n=8)
    got = {
        tuple(r)
        for r in duplicate_substring_chains_incremental(
            spark.read.parquet(idx), batch2, n=8, max_occ=64,
            corpus_is_index=True,
        ).collect()
    }
    ref = {
        tuple(r)
        for r in duplicate_substring_chains(docs, n=8, max_occ=64)
        .join(batch2.select("doc_id"), "doc_id")
        .collect()
    }
    assert got == ref and len(ref) > 0


def test_third_fold_agrees_across_spellings(spark):
    """Spark SQL, DuckDB SQL, and the numpy fold produce identical
    third-fold shingle arrays."""
    import duckdb

    from mlops_realtime_data_ingestion_spark.functions import hashing as H
    from mlops_realtime_data_ingestion_spark.functions import hashing_pandas as HP

    text = "the quick brown fox jumps over the lazy dog the quick brown fox"
    lit = f"'{text}'"
    spark_out = spark.sql(
        f"SELECT {H.spark_shingle_hashes3(H.spark_token_hashes3(lit), 8)} AS a"
    ).collect()[0]["a"]
    duck_out = duckdb.sql(
        f"SELECT {H.duck_shingle_hashes3(H.duck_token_hashes3(lit), 8)} AS a"
    ).fetchone()[0]
    np_out = HP.shingle_hashes3(HP.token_hashes3(text), 8).tolist()
    assert list(spark_out) == list(duck_out) == np_out and len(np_out) > 0


def test_chain_key_includes_fp3_regression(spark, monkeypatch):
    """A 60-bit fp collision between two docs (same fp, different
    fp3) must produce ZERO islands; with fp3 also equal the same rows
    chain. Round 5's 30-bit version fabricated 317k rows at 100x from
    exactly this failure shape (SCALE.md)."""
    from mlops_realtime_data_ingestion_spark.operators import curation

    def fake_positions(rows):
        def _fake(df, id_col, text_col, n, impl, wide=False):
            assert wide
            return spark.createDataFrame(
                rows, ["id", "n_tokens", "p", "fp", "fp3"]
            )

        return _fake

    # docs 1 and 2 share fp at 9 consecutive positions -> without fp3
    # in the key this chains into one long fabricated match
    collide = [
        (doc, 40, p, 777_000 + p, 111 if doc == 1 else 222)
        for doc in (1, 2)
        for p in range(1, 10)
    ]
    same = [(doc, 40, p, 777_000 + p, 111) for doc in (1, 2) for p in range(1, 10)]

    monkeypatch.setattr(curation, "_shingle_positions", fake_positions(collide))
    empty = curation._chain_islands(
        spark.range(1).selectExpr("1 AS doc_id", "'x' AS text"),
        "doc_id", "text", n=8, max_occ=64, impl="sql",
    )
    assert empty.count() == 0

    monkeypatch.setattr(curation, "_shingle_positions", fake_positions(same))
    real = curation._chain_islands(
        spark.range(1).selectExpr("1 AS doc_id", "'x' AS text"),
        "doc_id", "text", n=8, max_occ=64, impl="sql",
    ).collect()
    assert {(r["id"], r["ss"], r["ee"]) for r in real} == {(1, 1, 16), (2, 1, 16)}
