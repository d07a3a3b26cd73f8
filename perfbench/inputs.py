"""Seeded input generation for the benchmark.

Everything the engine reads is made here from ``--seed``: the same seed
gives byte-identical files, a different seed different ones. Two input
sets exist:

- ``write_tables``: the ten tables of the test data (TPC-H-like star
  schema, ``events``, ``documents``, ``embeddings``) with their schemas
  and value domains, so the registry queries and their DuckDB oracles
  run unchanged on them;
- ``write_stream``: JSONL transaction files for the streaming pipeline,
  staged outside the watched directory (``release.py`` renames them in).
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_EPOCH = dt.datetime(1970, 1, 1)
_VOCAB = (
    "a the data table row column key value part line order customer "
    "query scan join merge sort group agg filter window stream batch "
    "hash spark fast slow big small vector"
).split()
_REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
_SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
_PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
_COLORS = ("red", "blue", "green", "black", "white", "small", "large", "steel")
_THINGS = ("widget", "bolt", "ring", "gear", "pipe", "valve", "frame", "spring")
_EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
_LANGS = ("en", "en", "en", "de", "es", "fr", "zh")


def _rng(seed: int, stream: str) -> np.random.Generator:
    """Independent generator per table, so adding a table never shifts
    another table's values."""
    return np.random.default_rng([seed, sum(ord(c) << (i % 24) for i, c in enumerate(stream))])


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    """2-dp currency values, exact on the cent grid."""
    return rng.integers(round(lo * 100), round(hi * 100) + 1, n) / 100.0


def _days(rng: np.random.Generator, start: dt.datetime, span_days: int, n: int) -> np.ndarray:
    base = np.datetime64(start, "us")
    return base + rng.integers(0, span_days, n).astype("timedelta64[D]")


def _write(out_dir: str, name: str, cols: dict, order: np.ndarray | None = None) -> None:
    table = pa.table(cols)
    if order is not None:
        table = table.take(pa.array(order))
    pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


def _documents(rng: np.random.Generator, n: int) -> dict:
    """Random texts over a small vocabulary, plus planted near-duplicates
    (an earlier text with a few words replaced, or a sub-span of it) so
    the dedup and containment rows find real pairs."""
    texts: list[str] = []
    for i in range(n):
        if i >= 10 and rng.random() < 0.15:
            src = texts[int(rng.integers(0, i))].split()
            if rng.random() < 0.5:
                for j in rng.integers(0, len(src), max(1, len(src) // 12)):
                    src[j] = _VOCAB[int(rng.integers(0, len(_VOCAB)))]
            else:
                lo = int(rng.integers(0, max(1, len(src) // 4)))
                src = src[lo : lo + max(10, (len(src) * 3) // 4)]
            texts.append(" ".join(src))
        else:
            k = int(rng.integers(10, 100))
            texts.append(" ".join(_VOCAB[j] for j in rng.integers(0, len(_VOCAB), k)))
    langs = [_LANGS[j] for j in rng.integers(0, len(_LANGS), n)]
    return {
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(langs, pa.string()),
        "source": pa.array([f"src{j}" for j in rng.integers(0, 20, n)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }


def _embeddings(rng: np.random.Generator, n: int, dim: int = 64, labels: int = 10) -> dict:
    centers = rng.normal(0.0, 0.15, (labels, dim))
    label = rng.integers(0, labels, n)
    vecs = (centers[label] + rng.normal(0.0, 0.05, (n, dim))).astype(np.float32)
    return {
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(label, pa.int32()),
    }


def write_tables(out_dir: str, seed: int, scale: float = 0.01, docs: int = 500, vectors: int = 500) -> None:
    """The ten tables of the test data at ``scale`` (0.01 = 60k lineitem rows),
    in a seeded row order."""
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_supp, n_part = int(150_000 * scale), int(10_000 * scale), int(200_000 * scale)
    n_ord, n_ev = int(1_500_000 * scale), int(1_000_000 * scale)

    r = _rng(seed, "dims")
    _write(out_dir, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": pa.array(_REGIONS),
    })
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    _write(out_dir, "customer", {
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(r.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": pa.array(_money(r, -999.99, 9999.99, n_cust)),
        "c_mktsegment": pa.array([_SEGMENTS[j] for j in r.integers(0, 5, n_cust)]),
    }, r.permutation(n_cust))
    _write(out_dir, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(r.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": pa.array(_money(r, -999.99, 9999.99, n_supp)),
    }, r.permutation(n_supp))
    price = np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 2)
    _write(out_dir, "part", {
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": pa.array([f"{_COLORS[j % 8]} {_THINGS[j // 8]}" for j in r.integers(0, 64, n_part)]),
        "p_brand": pa.array([f"Brand#{j}" for j in r.integers(1, 26, n_part)]),
        "p_type": pa.array([_TYPES[j] for j in r.integers(0, 6, n_part)]),
        "p_size": pa.array(r.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": pa.array(price),
    }, r.permutation(n_part))

    r = _rng(seed, "orders")
    odate = _days(r, dt.datetime(1995, 1, 1), 2404, n_ord)
    _write(out_dir, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(r.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": pa.array([("F", "O", "P")[j] for j in r.integers(0, 3, n_ord)]),
        "o_totalprice": pa.array(_money(r, 1000.0, 500000.0, n_ord)),
        "o_orderdate": pa.array(odate, pa.timestamp("us")),
        "o_orderpriority": pa.array([_PRIORITIES[j] for j in r.integers(0, 5, n_ord)]),
    }, r.permutation(n_ord))

    lines = r.integers(1, 8, n_ord)
    n_li = int(lines.sum())
    okey = np.repeat(np.arange(n_ord), lines)
    lineno = np.concatenate([np.arange(1, k + 1) for k in lines]).astype(np.int32)
    pkey = r.integers(0, n_part, n_li)
    qty = r.integers(1, 51, n_li).astype(np.float64)
    _write(out_dir, "lineitem", {
        "l_orderkey": pa.array(okey, pa.int64()),
        "l_partkey": pa.array(pkey, pa.int64()),
        "l_suppkey": pa.array(r.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(lineno, pa.int32()),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(qty * price[pkey], 2)),
        "l_discount": pa.array(r.integers(0, 11, n_li) / 100.0),
        "l_tax": pa.array(r.integers(0, 9, n_li) / 100.0),
        "l_returnflag": pa.array([("A", "N", "R")[j] for j in r.integers(0, 3, n_li)]),
        "l_linestatus": pa.array([("F", "O")[j] for j in r.integers(0, 2, n_li)]),
        "l_shipdate": pa.array(odate[okey] + r.integers(1, 122, n_li).astype("timedelta64[D]"), pa.timestamp("us")),
    }, r.permutation(n_li))

    r = _rng(seed, "events")
    ts = np.datetime64("2024-01-01T00:00:00", "us") + r.integers(0, 30 * 86400 * 10**6, n_ev).astype("timedelta64[us]")
    _write(out_dir, "events", {
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(r.integers(0, 150, n_ev), pa.int64()),
        "event_type": pa.array([_EVENT_TYPES[j] for j in r.integers(0, 5, n_ev)]),
        "value": pa.array(_money(r, 0.01, 490.0, n_ev)),
        "props": pa.array([f'{{"k": {j}}}' for j in r.integers(0, 100, n_ev)]),
    }, r.permutation(n_ev))

    r = _rng(seed, "documents")
    _write(out_dir, "documents", _documents(r, docs), r.permutation(docs))
    r = _rng(seed, "embeddings")
    _write(out_dir, "embeddings", _embeddings(r, vectors), r.permutation(vectors))


# -- streaming inputs ---------------------------------------------------

STREAM_T0 = dt.datetime(2024, 1, 1)  # event clock origin (UTC)


def write_stream(
    stage_dir: str,
    seed: int,
    n_files: int,
    events_per_file: int,
    event_s_per_file: float,
    dup_share: float = 0.05,
    late_share: float = 0.05,
    max_late_s: float = 30.0,
) -> list[dict]:
    """Pre-write ``n_files`` JSONL transaction files into ``stage_dir``.

    File ``i`` carries events of the event-time slice ``[i, i+1) *
    event_s_per_file`` after ``STREAM_T0``. A ``late_share`` of them is
    moved back by up to ``max_late_s`` (inside the pipeline's 60 s
    watermark, so no event is ever dropped), and a ``dup_share`` of each
    file re-delivers earlier events verbatim (same hash, time and fee).
    Returns one record per file: its name, row count and its largest
    event time in epoch micros; ``events`` holds every delivered
    (hash, ts_micros, fee) for the reference."""
    os.makedirs(stage_dir, exist_ok=True)
    rng = _rng(seed, "stream")
    t0 = int((STREAM_T0 - _EPOCH).total_seconds()) * 10**6
    span = int(event_s_per_file * 10**6)
    files: list[dict] = []
    history: list[tuple[str, int, int]] = []
    n_dup = int(events_per_file * dup_share)
    n_new = events_per_file - n_dup
    for i in range(n_files):
        ts = t0 + i * span + rng.integers(0, span, n_new)
        late = rng.random(n_new) < late_share
        ts = np.where(late, np.maximum(t0, ts - rng.integers(0, int(max_late_s * 10**6), n_new)), ts)
        fee = rng.integers(1, 5001, n_new)
        raw = rng.bytes(16 * n_new)
        hashes = [raw[k * 16 : (k + 1) * 16].hex() for k in range(n_new)]
        rows = [(h, int(t), int(f)) for h, t, f in zip(hashes, ts, fee)]
        if history and n_dup:
            rows += [history[int(k)] for k in rng.integers(max(0, len(history) - 8 * n_new), len(history), n_dup)]
        history.extend(rows[:n_new])
        name = f"tx-{i:05d}.json"
        with open(os.path.join(stage_dir, name), "w") as f:
            f.writelines(f'{{"hash":"{h}","ts_micros":{t},"fee":{fe}}}\n' for h, t, fe in rows)
        files.append({"name": name, "rows": len(rows), "max_ts": max(t for _, t, _ in rows), "events": rows})
    return files
