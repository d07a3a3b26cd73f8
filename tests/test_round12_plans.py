"""Round-12 pins: ADVICE r11 fixes and the Arrow chunking-family
extensions (VERDICT r11 task 3)."""

from __future__ import annotations

import os

import pytest


# ---------------------------------------------------------------
# ADVICE r11: data_token must see an in-place part-file rewrite
# inside a partitionBy subdirectory (key=value/ layout) — the subdir's
# own mtime and total size are unchanged by such a rewrite, so only
# one-level recursion catches it.
# ---------------------------------------------------------------

def test_data_token_sees_partitioned_inplace_rewrite(tmp_path):
    from mlops_realtime_data_ingestion_spark.plans.index_cache import data_token

    root = tmp_path / "documents.parquet"
    sub = root / "lang=en"
    sub.mkdir(parents=True)
    part = sub / "part-00000.parquet"
    part.write_bytes(b"v1-payload")
    t1 = data_token(str(tmp_path), "documents")

    sub_st = sub.stat()
    part_st = part.stat()
    # in-place rewrite: SAME byte length, SAME name -> subdir mtime and
    # cumulative size are unchanged; only the nested file's mtime moves
    part.write_bytes(b"v2-payload")
    os.utime(part, ns=(part_st.st_mtime_ns + 10_000_000_000,) * 2)
    os.utime(sub, ns=(sub_st.st_mtime_ns, sub_st.st_mtime_ns))
    t2 = data_token(str(tmp_path), "documents")
    assert t1 != t2, "nested in-place rewrite must bust the fingerprint"

    # and stability: re-stat without changes -> identical token
    assert data_token(str(tmp_path), "documents") == t2


# ---------------------------------------------------------------
# VERDICT r11 task 3: shingle_position_rows (whole-batch Arrow
# shingling, the cdc_chunk_rows template) must be bit-identical to a
# straight-line per-doc reference of the chain folds, and the Spark
# impl='arrow' path identical to impl='pandas' on real data.
# ---------------------------------------------------------------

import numpy as np
import pandas as pd

from mlops_realtime_data_ingestion_spark.functions import hashing as H
from mlops_realtime_data_ingestion_spark.functions import (
    hashing_pandas as HP,
)
from mlops_realtime_data_ingestion_spark.operators.curation import (
    _shingle_positions,
    duplicate_passage_spans,
    duplicate_substring_chains,
    duplicate_substring_span_rows,
)
from mlops_realtime_data_ingestion_spark.sources.batch import load_table

_DOCS = [
    (1, "the cat sat on the mat the cat sat again and again"),
    (2, "single"),
    (3, "a b c d e f g h i j k l m n o p"),
    (4, None),          # dropped (null text)
    (5, ""),            # dropped (zero tokens)
    (6, "   spaces   collapse   here   "),
    (7, "x " * 300),    # repeated token, one long doc
    (8, "u v w"),       # shorter than n for n >= 4 -> no rows
]


def _ref_shingles(doc_id, text, n, wide):
    """Straight-line reference: per-doc chain folds, 1-based p."""
    toks = text.lower().strip().split()
    h = [HP.str_hash(t) for t in toks]
    h2 = [HP.str_hash2(t) for t in toks]
    h3 = [HP.str_hash3(t) for t in toks]

    def fold(arr, base, mod):
        acc = 0
        for c in arr:
            acc = (acc * base + c) % mod
        return acc

    out = []
    for p in range(len(h) - n + 1):
        f1 = fold(h[p : p + n], 31, H.P)
        if wide:
            f2 = fold(h2[p : p + n], 37, H.P2)
            f3 = fold(h3[p : p + n], 41, H.P3)
            out.append((doc_id, len(h), p + 1, f1 * H.WIDE_SHIFT + f2, f3))
        else:
            out.append((doc_id, len(h), p + 1, f1))
    return out


@pytest.mark.parametrize("n", [2, 5, 8])
@pytest.mark.parametrize("wide", [False, True])
def test_shingle_position_rows_matches_reference(n, wide):
    got = HP.shingle_position_rows(
        pd.Series([d[0] for d in _DOCS]),
        pd.Series([d[1] for d in _DOCS]),
        n,
        wide,
    )
    ref = [
        row
        for doc_id, text in _DOCS
        if text is not None
        for row in _ref_shingles(doc_id, text, n, wide)
    ]
    assert [tuple(r) for r in got.itertuples(index=False)] == ref
    assert len(ref) > 0


def test_shingle_position_rows_empty_batch_dtypes():
    for wide, cols in (
        (False, ["id", "n_tokens", "p", "fp"]),
        (True, ["id", "n_tokens", "p", "fp", "fp3"]),
    ):
        got = HP.shingle_position_rows(
            pd.Series([], dtype="int64"), pd.Series([], dtype=object), 5, wide
        )
        assert len(got) == 0
        assert list(got.columns) == cols
        assert got["fp"].dtype == np.int64
        assert got["p"].dtype == np.int32
        assert got["n_tokens"].dtype == np.int32
    # a batch whose every doc is null/short must ALSO hit the typed
    # empty path (None text, zero tokens, len < n)
    got = HP.shingle_position_rows(
        pd.Series([1, 2, 3]), pd.Series([None, "", "a b"]), 5, True
    )
    assert len(got) == 0 and got["fp"].dtype == np.int64


@pytest.mark.parametrize("wide", [False, True])
def test_shingle_impls_agree_on_documents(spark, sf_dir, wide):
    docs = load_table(spark, sf_dir, "documents")
    a = _shingle_positions(docs, "doc_id", "text", 5, "arrow", wide=wide)
    p = _shingle_positions(docs, "doc_id", "text", 5, "pandas", wide=wide)
    # nullability differs (mapInPandas fields are nullable; posexplode
    # output is not) — names and types must match exactly
    assert [(f.name, f.dataType) for f in a.schema.fields] == [
        (f.name, f.dataType) for f in p.schema.fields
    ]
    ra = sorted(tuple(r) for r in a.collect())
    rp = sorted(tuple(r) for r in p.collect())
    assert ra == rp and len(ra) > 0


@pytest.mark.parametrize(
    "op",
    [
        duplicate_passage_spans,
        duplicate_substring_chains,
        duplicate_substring_span_rows,
    ],
)
def test_shingle_operators_agree_across_impls(spark, sf_dir, op):
    docs = load_table(spark, sf_dir, "documents")
    a = sorted(tuple(r) for r in op(docs, impl="arrow").collect())
    p = sorted(tuple(r) for r in op(docs, impl="pandas").collect())
    assert a == p and len(a) > 0


def test_registry_shingle_rows_run_measured_impl(spark, sf_dir):
    """The registry rows must keep the impl the 100x A/B selected
    (SCALE.md round 12): the two passage rows run the whole-batch
    Arrow shingling (it won, best-of-3 4.33 vs 5.01 s window / 6.01
    vs 8.04 s join; MapInPandas in the plan — the join count-mode
    carries it twice by documented design), while the substring
    chains/span rows stay per-doc pandas (arrow was a wash on chains
    and a reproducible 1.8x loss on span rows; no MapInPandas)."""
    from mlops_realtime_data_ingestion_spark.plans.registry import all_specs

    specs = all_specs()
    for name, n_nodes in (
        ("passage_dedup_spans", 1),
        ("passage_dedup_spans_join", 2),
        ("substring_dedup_chains", 0),
        ("substring_span_rows", 0),
    ):
        plan = (
            specs[name]
            .fn(spark, sf_dir)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert plan.count("MapInPandas") == n_nodes, name


def test_ivfpq_lifecycle_records_both_runs(spark, sf_dir):
    """VERDICT r11 task 1 defense: the lifecycle was the last
    headline-adjacent number drawn once per artifact. It runs the
    whole build+serve cycle twice and records every draw next to the
    best, so an out-of-band draw (the adjudicated 36-49 s build swing
    band, SCALE.md round 12) is visible inside the artifact; each
    serve draw keeps its per-run records with stage counters."""
    from pyspark.sql import functions as F

    from bench import _lifecycle
    from mlops_realtime_data_ingestion_spark.operators.similarity import (
        ivfpq_build,
        ivfpq_search,
    )
    from mlops_realtime_data_ingestion_spark.sources.batch import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    probes = emb.filter(F.col("vec_id") < 5)
    built = []

    def build(idx):
        built.append(idx)
        ivfpq_build(emb, idx, dim=64, coarse_k=4, m=4, pq_k=4, iters=2)

    rec = _lifecycle(
        spark,
        build,
        lambda idx: ivfpq_search(spark, idx, probes, dim=64, m=4, nprobe=2, k=5),
        2,
    )
    assert len(rec["build_runs"]) == 2 and len(rec["serve_runs"]) == 2
    assert rec["build_sec"] == min(rec["build_runs"])
    assert rec["serve_sec"] == min(rec["serve_runs"])
    assert all(v > 0 for v in rec["build_runs"] + rec["serve_runs"])
    # each build draw gets its own directory, removed afterwards
    assert len(set(built)) == 2 and not any(os.path.exists(d) for d in built)
    for draw, best in zip(rec["runs"], rec["serve_runs"]):
        assert len(draw) == 2 and best == min(r["run_s"] for r in draw)
        assert all(r["jobs"] >= 1 and r["stages"] >= 1 for r in draw)


# ---------------------------------------------------------------
# Round-12 kmeans assign rewrite (guide §2.3/§2.4/§4.1): the
# row_number-window argmin became groupBy(id).agg(min(struct(...)))
# and the interpreted sq_dist HOF fold gained a codegen flat-
# expression spelling for statically-known dims. Both must be
# BIT-identical to the old spelling — these pins are the proof the
# registry rows' results cannot have moved.
# ---------------------------------------------------------------


def test_flat_sq_dist_bit_identical_to_fold(spark):
    """IEEE argument: the fold computes ((0.0+t0)+t1)+...; 0.0+t0==t0
    exactly, so the flat left-associated sum adds the same terms in
    the same order. Checked on raw doubles, no rounding."""
    import random

    from pyspark.sql import functions as F

    from mlops_realtime_data_ingestion_spark.operators.similarity import (
        _flat_sq_dist,
        sq_dist,
    )

    rng = random.Random(12)
    rows = [
        (i, [rng.uniform(-9, 9) for _ in range(16)],
         [rng.uniform(-9, 9) for _ in range(16)])
        for i in range(200)
    ]
    df = spark.createDataFrame(rows, "id long, a array<double>, b array<double>")
    got = df.select(
        "id",
        sq_dist("a", "b").alias("fold"),
        _flat_sq_dist("a", "b", 16).alias("flat"),
    ).collect()
    assert len(got) == 200
    for r in got:
        # exact equality of raw doubles, not approx
        assert r["fold"] == r["flat"], r["id"]


def test_argmin_assign_matches_window_spelling(spark, sf_dir):
    """min(struct(d, cluster)) vs the removed row_number()-window
    argmin: lexicographic struct comparison picks exactly the
    (d asc, cluster asc) first row. Pinned against a local rebuild of
    the old spelling on the real embeddings table."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from mlops_realtime_data_ingestion_spark.operators.similarity import (
        _argmin_assign,
        sq_dist,
    )
    from mlops_realtime_data_ingestion_spark.sources.batch import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    pts = emb.select("vec_id", F.col("embedding").alias("p"))
    cents = (
        emb.orderBy("vec_id")
        .limit(4)
        .select(
            (F.row_number().over(Window.orderBy("vec_id")) - 1).alias("cluster"),
            F.col("embedding").alias("centroid"),
        )
    )
    w = Window.partitionBy("vec_id").orderBy(F.col("d").asc(), F.col("cluster").asc())
    old = (
        pts.crossJoin(F.broadcast(cents))
        .withColumn("d", sq_dist("p", "centroid"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("vec_id", "cluster", "d")
    )
    new = _argmin_assign(pts, cents, "vec_id", dim=None)
    ro = sorted(tuple(r) for r in old.collect())
    rn = sorted(tuple(r) for r in new.collect())
    assert ro == rn and len(ro) > 0


def test_kmeans_dim_spelling_bit_identical(spark, sf_dir):
    """kmeans_iterate(dim=64) (codegen flat distance) vs dim=None
    (interpreted fold): same assignment, same rounded distances, and
    same trained centroids to the raw double."""
    from mlops_realtime_data_ingestion_spark.operators.similarity import (
        kmeans_iterate,
    )
    from mlops_realtime_data_ingestion_spark.sources.batch import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    a, ca = kmeans_iterate(emb, k=4, iters=2, return_centroids=True, dim=64)
    b, cb = kmeans_iterate(emb, k=4, iters=2, return_centroids=True, dim=None)
    assert sorted(tuple(r) for r in a.collect()) == sorted(
        tuple(r) for r in b.collect()
    )
    assert sorted((r["cluster"], tuple(r["centroid"])) for r in ca.collect()) == sorted(
        (r["cluster"], tuple(r["centroid"])) for r in cb.collect()
    )


def test_fused_backtest_matches_composed_spelling(spark, sf_dir):
    """Round-12 fused forecast_backtest_rmse_wql (1 scan / 1 user_id
    exchange) vs the removed tail_split -> seasonal_naive_forecast ->
    truth-join composition (4 scans / 4 user_id exchanges), rebuilt
    here verbatim: the single output row must match to the raw double
    — the decimal-exact sums make the regrouping lossless and the
    per-row double math is expression-identical."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from mlops_realtime_data_ingestion_spark.operators.forecast import (
        seasonal_naive_forecast,
    )
    from mlops_realtime_data_ingestion_spark.operators.timeseries import tail_split
    from mlops_realtime_data_ingestion_spark.plans.timeseries_queries import (
        _events,
        forecast_backtest_rmse_wql,
    )

    ev = _events(spark, sf_dir)
    split = tail_split(
        ev.select("user_id", "ts", "event_id", "value"),
        [F.col("ts"), F.col("event_id")],
        test_length=3,
        series_cols=["user_id"],
    )
    train = split.filter(F.col("split") == "train").drop("split")
    fc = seasonal_naive_forecast(
        train,
        order=[F.col("ts"), F.col("event_id")],
        horizon=3,
        season=5,
        value_col="value",
        series_cols=["user_id"],
    )
    wt = Window.partitionBy("user_id").orderBy("ts", "event_id")
    truth = (
        split.filter(F.col("split") == "test")
        .withColumn("h", F.row_number().over(wt).cast("long"))
        .select("user_id", "h", F.col("value").alias("target"))
    )
    j = fc.join(truth, ["user_id", "h"])
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
    old = agg.select(
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
    ro = old.collect()
    rn = forecast_backtest_rmse_wql(spark, sf_dir).collect()
    assert len(ro) == len(rn) == 1
    assert tuple(ro[0]) == tuple(rn[0])
