"""Round 11: the CPU-episode response — Arrow chunking parity for
cdc_chunk_dedup, the vectorized cdc_chunk_rows edge cases, and the
fresh-JVM escalation wiring (SCALE.md round 11; VERDICT r10 task 1).

The escalation RUNTIME path (hard_reset_jvm tearing down the py4j
gateway) is deliberately NOT executed inside this suite — it would
kill the shared session fixture's JVM; its bench wiring is exercised
by injected fakes in test_fresh_session_hard_flag below, and it was
verified live this round (SCALE.md round-11 chain experiment:
prefix -> fresh-session 9.9 s -> fresh-JVM 10.6 s, and five separate
fresh JVMs all landing 11-18 s on the 100x cdc input).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from mlops_realtime_data_ingestion_spark.functions import hashing as H
from mlops_realtime_data_ingestion_spark.functions import (
    hashing_pandas as HP,
)
from mlops_realtime_data_ingestion_spark.operators.curation import (
    cdc_chunk_dedup,
)
from mlops_realtime_data_ingestion_spark.sources.batch import load_table


# ---------------------------------------------------------------
# cdc_chunk_rows: the batch-vectorized chunking projection must be
# bit-identical to a direct per-doc reference implementation of the
# SQL spelling's cut rule and folds.
# ---------------------------------------------------------------

def _ref_chunks(doc_id, text, divisor):
    """Straight-line reference: the SQL spelling in Python."""
    toks = text.lower().strip().split()
    if not toks:
        return []
    h = [HP.str_hash(t) for t in toks]
    h2 = [HP.str_hash2(t) for t in toks]
    h3 = [HP.str_hash3(t) for t in toks]
    cuts = [i for i in range(1, len(h)) if h[i - 1] % divisor == 0]
    starts = [0] + cuts
    ends = cuts + [len(h)]

    def fold(arr, base, mod):
        acc = 0
        for c in arr:
            acc = (acc * base + c) % mod
        return acc

    out = []
    for s, e in zip(starts, ends):
        f1 = fold(h[s:e], 31, H.P)
        f2 = fold(h2[s:e], 37, H.P2)
        f3 = fold(h3[s:e], 41, H.P3)
        out.append(
            (doc_id, len(h), f1 * H.WIDE_SHIFT + f2, f3, e - s)
        )
    return out


@pytest.mark.parametrize("divisor", [2, 4, 16])
def test_cdc_chunk_rows_matches_reference(divisor):
    docs = [
        (1, "the cat sat on the mat the cat sat again and again"),
        (2, "single"),
        (3, "a b c d e f g h i j k l m n o p"),
        (4, None),          # dropped (null text)
        (5, ""),            # dropped (zero tokens)
        (6, "   spaces   collapse   here   "),
        (7, "x " * 300),    # repeated token: every position may cut
    ]
    got = HP.cdc_chunk_rows(
        pd.Series([d[0] for d in docs]),
        pd.Series([d[1] for d in docs]),
        divisor,
    )
    want = [
        row
        for doc_id, text in docs
        if text is not None
        for row in _ref_chunks(doc_id, text, divisor)
    ]
    assert list(map(tuple, got.itertuples(index=False))) == want


def test_cdc_chunk_rows_long_doc_extends_pow_table():
    """A document longer than the module pow tables (4096) must
    extend them, not wrap or raise — chunk of length > 4096 happens
    when no token hash is divisible (divisor large)."""
    n = 5000
    text = " ".join(f"tok{i}" for i in range(n))
    got = HP.cdc_chunk_rows(
        pd.Series([9]), pd.Series([text]), 1_000_000_007
    )
    # divisor = P: h % P == h, never 0 for nonzero hashes -> chunks
    # only where a token hash is exactly 0 (none here): ONE chunk
    assert len(got) == 1 and int(got["clen"].iloc[0]) == n
    want = _ref_chunks(9, text, 1_000_000_007)
    assert list(map(tuple, got.itertuples(index=False))) == want


def test_cdc_chunk_rows_empty_batch_dtypes():
    got = HP.cdc_chunk_rows(
        pd.Series([], dtype="int64"), pd.Series([], dtype=object), 16
    )
    assert len(got) == 0
    assert list(got.columns) == ["id", "n_tokens", "fp", "fp3", "clen"]
    assert got["fp"].dtype == np.int64


# ---------------------------------------------------------------
# The Spark-side parity: impl='pandas' equals impl='expr' row for
# row on the real documents table, for both count modes.
# ---------------------------------------------------------------

@pytest.mark.parametrize("count_mode", ["window", "join"])
def test_cdc_impls_agree_on_documents(spark, sf_dir, count_mode):
    docs = load_table(spark, sf_dir, "documents")
    a = sorted(
        tuple(r)
        for r in cdc_chunk_dedup(
            docs, count_mode=count_mode, impl="expr"
        ).collect()
    )
    b = sorted(
        tuple(r)
        for r in cdc_chunk_dedup(
            docs, count_mode=count_mode, impl="pandas"
        ).collect()
    )
    assert a == b and len(a) > 0


def test_cdc_rejects_unknown_impl(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    with pytest.raises(ValueError, match="impl"):
        cdc_chunk_dedup(docs, impl="nope")


def test_registry_cdc_rows_run_arrow_impl(spark, sf_dir):
    """The certified rows must keep the Arrow chunking (the 133.5 s
    round-10 episode class is impossible for numpy; a silent revert
    to the expr spelling would reopen it)."""
    from mlops_realtime_data_ingestion_spark.plans.registry import all_specs

    specs = all_specs()
    # the join count-mode runs the chunking twice by documented design
    # (groupBy + join-back reads the chunk stream on both sides), so
    # its plan carries the Arrow node twice
    for name, n_nodes in (
        ("dedup_cdc_chunks", 1),
        ("dedup_cdc_chunks_join", 2),
    ):
        plan = (
            specs[name]
            .fn(spark, sf_dir)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert plan.count("MapInPandas") == n_nodes, name


def test_cdc_arrow_plan_shape(spark, sf_dir):
    """The Arrow path must stay partition-local: exactly one
    MapInPandas, no extra shuffle before the fp count (the window
    spelling's single fp exchange is the only wide op besides the
    final per-doc rollup)."""
    docs = load_table(spark, sf_dir, "documents")
    plan = (
        cdc_chunk_dedup(docs, impl="pandas")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("MapInPandas") == 1
    # no broadcast of anything built from the chunk stream
    from tools.broadcast_audit import flagged_broadcasts

    assert flagged_broadcasts(plan) == []


# ---------------------------------------------------------------
# bench wiring: the hard flag reaches hard_reset_jvm (monkeypatched —
# never executed for real in-suite), and the default stays soft.
# ---------------------------------------------------------------

def test_fresh_session_hard_flag(monkeypatch, spark):
    import bench
    from mlops_realtime_data_ingestion_spark import session as S

    calls = []
    monkeypatch.setattr(S, "hard_reset_jvm", lambda: calls.append("hard"))
    monkeypatch.setattr(S, "stop_spark", lambda: calls.append("soft"))
    monkeypatch.setattr(S, "get_spark", lambda *a, **k: spark)
    monkeypatch.setattr(bench, "_warm_session", lambda sp: None)
    assert bench._fresh_session("x", hard=True) is spark
    assert calls == ["hard"]
    calls.clear()
    assert bench._fresh_session("x") is spark
    assert calls == ["soft"]
