"""Similarity search over embedding columns (north-star extension,
SURVEY.md §7 step 8).

Brute-force cosine top-k is the exact baseline; IVF (coarse-quantizer
bucketing, probe the nearest cells) is the scale path. Both are pure
DataFrame plans: dot products via ``zip_with``/``aggregate`` (JVM
codegen, no Python), ranking via window functions.

Scale design:
- brute force: queries x corpus is a broadcast nested-loop on the
  (tiny) query side — the corpus is scanned ONCE, never shuffled.
  Fine for ad-hoc k-NN; O(Q*N) overall.
- IVF: corpus is bucketed by nearest centroid (one pass), a query
  probes only `nprobe` cells — O(Q * N * nprobe / C). Centroids come
  from any assignment column (label here, k-means in production);
  the plan shape is identical.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions import hashing as H

__all__ = [
    "cosine",
    "cosine_topk",
    "ivf_topk",
    "centroids_by",
    "lsh_bucket_topk",
    "kmeans_iterate",
    "pq_encode",
    "ivfpq_topk",
    "ivfpq_build",
    "ivfpq_search",
    "ivfpq_index_update",
    "ivfpq_rerank",
    "embedding_lsh_pairs",
    "embedding_lsh_accounting",
]


def cosine(a: str, b: str):
    """Cosine similarity of two array<float/double> columns, computed
    in doubles with a sequential fold (deterministic order)."""
    dot = F.aggregate(
        F.zip_with(F.col(a), F.col(b), lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    na = F.sqrt(
        F.aggregate(
            F.col(a), F.lit(0.0), lambda acc, v: acc + v.cast("double") * v.cast("double")
        )
    )
    nb = F.sqrt(
        F.aggregate(
            F.col(b), F.lit(0.0), lambda acc, v: acc + v.cast("double") * v.cast("double")
        )
    )
    return dot / (na * nb)


def _query_dims_and_norms(queries: DataFrame, id_col: str, vec_col: str):
    """Query-side prep (the tiny side): one row per (query_id, dim)
    plus per-query norms. Norms use the same sequential fold as
    :func:`cosine` so the spelling stays engine-portable."""
    q = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv"))
    q_dims = q.select(
        "query_id", F.posexplode("qv").alias("dim", "qx")
    ).withColumn("qx", F.col("qx").cast("double"))
    q_norms = q.select(
        "query_id",
        F.sqrt(
            F.aggregate(
                F.col("qv"),
                F.lit(0.0),
                lambda acc, v: acc + v.cast("double") * v.cast("double"),
            )
        ).alias("qn"),
    )
    return q_dims, q_norms


def _scored_vs_queries(
    c: DataFrame, q_dims: DataFrame, q_norms: DataFrame
) -> DataFrame:
    """All (neighbor, query) cosine scores via explode + codegen.

    Interpreted HOF lambdas (``aggregate``/``zip_with``) run outside
    whole-stage codegen and cost ~20x (measured); instead the corpus
    array is exploded once and the dot product becomes multiply +
    hash-aggregate sum — all JVM codegen. Summation order is preserved
    bitwise vs the sequential fold: one corpus row's dims never leave
    their partition, and hash aggregation accumulates in encounter
    order, which is ascending ``dim`` by construction of posexplode.

    ``c`` may carry a ``query_id`` restriction column (IVF probes); if
    absent, every corpus row scores against every query (brute force).
    """
    restricted = "query_id" in c.columns
    ex = c.select(
        *(["query_id"] if restricted else []),
        "neighbor_id",
        F.posexplode("cv").alias("dim", "x"),
    ).withColumn("x", F.col("x").cast("double"))
    join_keys = ["query_id", "dim"] if restricted else ["dim"]
    dots = (
        ex.join(F.broadcast(q_dims), join_keys)
        .groupBy("query_id", "neighbor_id")
        .agg(
            F.sum(F.col("x") * F.col("qx")).alias("dot"),
            F.sum(F.col("x") * F.col("x")).alias("nn"),
        )
    )
    return (
        dots.join(F.broadcast(q_norms), "query_id")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("sim", F.round(F.col("dot") / (F.sqrt("nn") * F.col("qn")), 6))
    )


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k neighbors per query vector (self-match excluded).

    Rank on the 6dp-rounded similarity with id tiebreak so ordering is
    reproducible across engines and runs (raw float ranking is
    ULP-fragile between near-duplicate vectors). The corpus is scanned
    once and never shuffled at full width — the only shuffle carries
    (query, neighbor) partial sums.
    """
    c = corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv"))
    q_dims, q_norms = _query_dims_and_norms(queries, id_col, vec_col)
    scored = _scored_vs_queries(c, q_dims, q_norms)
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", "sim")
    )


def centroids_by(
    corpus: DataFrame,
    assign_col: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    exact: bool = False,
) -> DataFrame:
    """Mean vector per cell: posexplode -> avg per (cell, dim) ->
    re-assemble. One shuffle keyed (cell, dim); no driver collect.

    ``exact=True`` uses the integer-scaled mean (sum(round(x*1e9)) as
    int64 / (count*1e9), the kmeans_iterate construction): the mean
    becomes one correctly-rounded division reproducible in any engine
    at any partitioning — required when the centroids feed an
    oracle-checked ranking. Float avg is kept as the default cheap
    path for quantizers whose downstream check is recall, not
    equality."""
    exploded = corpus.select(
        F.col(assign_col).alias("cell"), F.posexplode(vec_col).alias("dim", "x")
    )
    if exact:
        m = (
            F.sum(F.round(F.col("x").cast("double") * 1e9).cast("long"))
            .cast("double")
            / (F.count("x") * F.lit(1_000_000_000)).cast("double")
        ).alias("m")
    else:
        m = F.avg("x").alias("m")
    per_dim = exploded.groupBy("cell", "dim").agg(m)
    return per_dim.groupBy("cell").agg(
        F.transform(
            F.sort_array(F.collect_list(F.struct("dim", "m"))), lambda s: s["m"]
        ).alias("centroid")
    )


def lsh_bucket_topk(
    corpus: DataFrame,
    queries: DataFrame,
    n_planes: int = 4,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    impl: str = "pandas",
) -> DataFrame:
    """Random-hyperplane-LSH ANN: bucket every vector by the sign
    pattern of ``n_planes`` fixed pseudo-random hyperplane dot
    products, then rank candidates ONLY within the query's bucket by
    exact cosine.

    Unlike IVF (data-dependent centroids, rows-only checkable), the
    hyperplanes are fixed public constants and every float op is a
    sequential fold — so the buckets, the candidate sets, and the
    ranking are bit-deterministic across engines and this ANN variant
    is fully DuckDB-oracle-checkable.

    Scale: bucketing is one narrow pass over the corpus (2^n_planes
    buckets cut the candidate scan by ~2^n_planes); the only join is
    corpus ⋈ broadcast(queries) on bucket, shuffle-free on the big
    side. Recall is tunable via n_planes (fewer planes = bigger
    buckets = higher recall); multi-table OR-amplification composes
    by unioning candidate sets from independent plane sets.

    impl="pandas" (default, round 9): the corpus-side bucket comes
    from the Arrow numpy path (hashing_pandas.hyperplane_keys_series,
    table 0 == these planes), bit-identical to the interpreted fold
    (asserted in tests/test_round9_plans.py) — the fold spelling
    (impl="sql") is the oracle-documented reference and stays on the
    tiny query side either way. The 100x bench history for this row
    was BIMODAL (1.4 s warm-JIT vs ~6 s when the interpreted-HOF
    path missed compilation); the Arrow path removes the interpreted
    fold from the corpus-sized hot path entirely.
    """
    bucket = F.expr(H.spark_hyperplane_bucket(vec_col, n_planes))
    par = corpus.sparkSession.sparkContext.defaultParallelism
    if impl == "sql":
        c_bucket = bucket
    else:
        from ..functions import hashing_pandas as HP

        @F.pandas_udf("int")
        def bucket_udf(v: pd.Series) -> pd.Series:
            return HP.hyperplane_keys_series(v, n_planes, 1).map(
                lambda a: int(a[0])
            )

        c_bucket = bucket_udf(F.col(vec_col))
    c = (
        corpus.repartition(par)  # spread the bucket projection
        .select(
            F.col(id_col).alias("neighbor_id"),
            F.col(vec_col).alias("cv"),
            c_bucket.alias("bucket"),
        )
    )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qv"),
        bucket.alias("bucket"),
    )
    scored = (
        c.join(F.broadcast(q), "bucket")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("sim", F.round(cosine("qv", "cv"), 6))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", "sim")
    )


def sq_dist(a: str, b: str):
    """Squared euclidean distance of two array columns, sequential
    fold (engine-exact, like :func:`cosine`)."""
    return F.aggregate(
        F.zip_with(
            F.col(a),
            F.col(b),
            lambda x, y: (x.cast("double") - y.cast("double"))
            * (x.cast("double") - y.cast("double")),
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _flat_sq_dist(a: str, b: str, dim: int):
    """:func:`sq_dist` for a statically known dimension, spelled as a
    flat left-associated arithmetic expression over ``element_at`` —
    whole-stage-codegen-eligible, unlike the interpreted higher-order
    fold. The flat spelling trades a per-plan constant (analysis +
    codegen of a dim-term expression tree, repeated per Lloyd
    iteration) for per-row speed, so it only wins where dim is small
    and the row count is large: the full-dim coarse shape (dim=64)
    LOSES at both bench scales (r12 A/B: 2.01 -> 8.25 s at sf0.1,
    8.11 -> 14.83 s at 100x), so callers pass dim only for
    subspace-sized vectors and None for full-dim ones. Round 13
    (VERDICT r12 item 2): with the m subspace trainings FUSED into
    one Lloyd chain (_pq_train_all), the constant is paid once per
    iteration instead of m times, and the measured A/B shows flat
    wins-or-ties at BOTH scales for the dim=16 subspace shape
    (fold vs flat, best-of-3: sim_search_ivfpq 2.93 vs 2.99 s sf0.1 /
    12.38 vs 10.79 s 100x; sampled 3.20 vs 2.77 / 16.07 vs 12.41;
    pq_codes 1.12 vs 1.08 / 3.86 vs 3.38) — the r12 sf-scale
    regression was the m-fold repetition, dissolved structurally, so
    no scale-dependent gate is needed. Bit-identical to the fold
    either way: the fold
    computes ((0.0 + t0) + t1) + ... and IEEE 0.0 + t0 == t0 exactly
    for the non-negative squares t0, so both spellings add the same
    terms in the same order. Requires every array to hold exactly
    ``dim`` elements (the ivfpq/pq callers validate dim % m)."""
    acc = None
    for i in range(dim):
        x = F.element_at(F.col(a), i + 1).cast("double")
        y = F.element_at(F.col(b), i + 1).cast("double")
        t = (x - y) * (x - y)
        acc = t if acc is None else acc + t
    return acc


def _argmin_assign(
    points: DataFrame,
    cents: DataFrame,
    id_col: str,
    dim: int | None,
    carry_vec: bool = False,
) -> DataFrame:
    """(id, cluster, d[, p]): each point's nearest centroid with the
    (d asc, cluster asc) tie-break — the kmeans assign step.

    Spelled as ``groupBy(id).agg(min(struct(d, cluster[, p])))``
    instead of the old row_number window: the struct comparator is
    lexicographic, so min(struct) picks exactly the window's
    (d asc, cluster asc) first row (``cluster`` is unique within a
    group, so the comparison never reaches ``p``), and the aggregate
    is PARTIAL — the k candidate rows per point collapse map-side, the
    exchange carries one narrow row per point instead of k
    vector-carrying rows, and the two sorts + WindowGroupLimit
    disappear from the physical plan (guide §2.3/§2.4). ``dim``
    selects the codegen flat distance; None keeps the interpreted
    fold (callers that cannot guarantee array lengths)."""
    d = (
        _flat_sq_dist("p", "centroid", dim)
        if dim is not None
        else sq_dist("p", "centroid")
    )
    fields = [F.col("d").alias("d"), F.col("cluster").alias("cluster")] + (
        [F.col("p").alias("p")] if carry_vec else []
    )
    best = (
        points.crossJoin(F.broadcast(cents))
        .withColumn("d", d)
        .groupBy(id_col)
        .agg(F.min(F.struct(*fields)).alias("__b"))
    )
    cols = [id_col, F.col("__b.cluster").alias("cluster"), F.col("__b.d").alias("d")]
    if carry_vec:
        cols.append(F.col("__b.p").alias("p"))
    return best.select(*cols)


def kmeans_iterate(
    corpus: DataFrame,
    k: int = 4,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    return_centroids: bool = False,
    train_on: DataFrame | None = None,
    dim: int | None = None,
):
    """Deterministic Lloyd's k-means over an embedding column,
    DataFrame-native and bit-reproducible:

    - init: the embeddings of the ``k`` smallest ids (no RNG);
    - assign: argmin squared distance via a broadcast of the k
      centroids, ties to the lower cluster id;
    - update: per-(cluster, dim) INTEGER-scaled exact means:
      sum(round(x*1e9)) as int64 / (count*1e9), both operands exactly
      representable, so the mean is ONE correctly-rounded division in
      any engine. (Float means are summation-order-dependent; and even
      decimal sums diverge at the final decimal->double conversion —
      engines disagree by an ulp on that cast, which a later
      round(dist, 6) can amplify into a flipped digit. Observed at
      sf0.1.)

    Each iteration = one broadcast join + one (cluster, dim) shuffle
    over the exploded corpus; nothing driver-side. ``iters`` is fixed
    (not convergence-tested) so the computation is a finite plan any
    engine can replay — the DuckDB oracle unrolls the same iterations.
    Returns (id, cluster, dist) with dist rounded to 6 dp; with
    ``return_centroids`` also the trained (cluster, centroid) frame
    (the codebook IVF-PQ needs for ADC lookup tables).

    ``dim``: the (known, guaranteed) vector length — selects the
    codegen flat-expression distance (:func:`_flat_sq_dist`,
    bit-identical to the fold) for the corpus x k assign passes.
    Pass it only for SUBSPACE-sized vectors (the PQ shape, where the
    measured A/B wins at scale); for full-dim vectors the flat
    expression's per-iteration analysis/codegen constant loses at
    every bench scale, so pass None (see _flat_sq_dist).

    ``train_on``: run the Lloyd ITERATIONS over this frame instead of
    the corpus (the final assignment always covers the full corpus) —
    the FAISS practice of training quantizers on a sample. Init then
    becomes the ``k`` smallest-id training rows with cluster ids
    0..k-1 in id order (the default path's ``id < k`` shortcut relies
    on contiguous corpus ids a sample doesn't have); every stage
    stays deterministic, so a sampled build is still oracle-checkable
    (mirror with the same WHERE in the training CTEs). At 1e9 vectors
    the iteration term drops from iters x corpus to iters x sample
    distance evaluations while the one full-corpus pass that actually
    needs every row (the assignment) remains.
    """
    if train_on is None:
        train = corpus
        init = (
            corpus.filter(F.col(id_col) < k)
            .select(F.col(id_col).cast("int").alias("cluster"), F.col(vec_col).alias("centroid"))
        )
    else:
        train = train_on
        wi = Window.orderBy(F.col(id_col).asc())
        init = (
            train.select(id_col, vec_col)
            .orderBy(F.col(id_col).asc())
            .limit(k)
            .select(
                (F.row_number().over(wi) - 1).cast("int").alias("cluster"),
                F.col(vec_col).alias("centroid"),
            )
        )
    points = corpus.select(id_col, F.col(vec_col).alias("p"))
    train_points = train.select(id_col, F.col(vec_col).alias("p"))
    cents = init
    for _ in range(iters):
        # argmin via partial-aggregable min(struct) — bit-identical to
        # the old row_number-window spelling (see _argmin_assign), but
        # no sort and a k-fold narrower exchange
        assigned = _argmin_assign(
            train_points, cents, id_col, dim, carry_vec=True
        )
        per_dim = (
            assigned.select("cluster", F.posexplode("p").alias("dim", "x"))
            .groupBy("cluster", "dim")
            .agg(
                (
                    F.sum(F.round(F.col("x").cast("double") * 1e9).cast("long"))
                    .cast("double")
                    / (F.count("x") * F.lit(1_000_000_000)).cast("double")
                ).alias("m")
            )
        )
        cents = per_dim.groupBy("cluster").agg(
            F.transform(
                F.sort_array(F.collect_list(F.struct("dim", "m"))), lambda s: s["m"]
            ).alias("centroid")
        )
    final = _argmin_assign(points, cents, id_col, dim)
    assign = final.select(
        id_col,
        F.col("cluster"),
        F.round(F.col("d"), 6).alias("dist"),
    )
    return (assign, cents) if return_centroids else assign


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    assign_col: str,
    k: int = 5,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    exact_centroids: bool = False,
) -> DataFrame:
    """Approximate top-k: probe the ``nprobe`` nearest cells only.

    corpus is pre-bucketed by ``assign_col`` (its coarse quantizer);
    each query ranks centroids, keeps nprobe cells, and scans just
    those buckets. Recall < 1 by construction; the exactness gap is
    the price of the N/C * nprobe scan reduction. With
    ``exact_centroids`` (and a deterministic assignment) the whole
    probe/rank pipeline is cross-engine bit-deterministic — even this
    ANN variant can be oracle-checked.
    """
    cents = centroids_by(corpus, assign_col, id_col, vec_col, exact=exact_centroids)
    q = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv"))
    # rank cells per query on the (broadcast) centroid table
    cell_scores = q.crossJoin(F.broadcast(cents)).withColumn(
        "cell_sim", F.round(cosine("qv", "centroid"), 6)
    )
    wc = Window.partitionBy("query_id").orderBy(
        F.col("cell_sim").desc(), F.col("cell").asc()
    )
    probed = (
        cell_scores.withColumn("cell_rank", F.row_number().over(wc))
        .filter(F.col("cell_rank") <= nprobe)
        .select("query_id", "qv", "cell")
    )
    c = corpus.select(
        F.col(assign_col).alias("cell"),
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cv"),
    )
    scored = (
        c.join(F.broadcast(probed), "cell")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("sim", F.round(cosine("qv", "cv"), 6))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", "sim")
    )


def _sub_points(
    df: DataFrame, id_col: str, vec_col: str, m: int, subdim: int
) -> DataFrame:
    """(id, s, p): every vector posexploded into its m PQ subvectors —
    the frame the fused subspace trainer iterates over."""
    return df.select(
        F.col(id_col),
        F.posexplode(
            F.array(
                *[
                    F.slice(F.col(vec_col), s * subdim + 1, subdim)
                    for s in range(m)
                ]
            )
        ).alias("s", "p"),
    )


def _pq_train_all(
    corpus: DataFrame,
    dim: int,
    m: int,
    pq_k: int,
    iters: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    train_on: DataFrame | None = None,
    with_dists: bool = False,
):
    """All ``m`` PQ subspace codebooks trained in ONE Lloyd pass per
    iteration over the posexploded (s, subvector) frame, and every
    corpus vector encoded in ONE aggregation (round 13, guide §2.2):
    the m per-subspace kmeans runs are independent, so keying every
    stage by ``s`` replaces m sequential (assign -> mean -> collect)
    stage chains per iteration — m broadcasts, m argmin aggregations,
    m per-dim shuffles — with one chain over an m-fold-taller frame.
    Stage COUNT per iteration drops m-fold (the IVF-PQ build's
    latency ceiling: many small stages, not bytes) and the
    ``_flat_sq_dist`` expression tree is analyzed/codegen'd once per
    iteration instead of m times (the sf-scale plan constant measured
    in OPTIMIZATION_r12.md).

    Bit-identical to the m sequential ``kmeans_iterate`` runs by
    construction — per (s, cluster, dim) the integer-scaled mean sums
    exactly the same rows (int64 sum: order-free), the per-(id, s)
    argmin sees the same candidates with the same (d, cluster)
    tie-break, and the init centroids are the same k smallest ids'
    subvectors — pinned in tests/test_round13_plans.py and verified
    against the unchanged per-subspace DuckDB oracle CTEs.

    Returns ``(codes_wide, codebooks)``: codes_wide is one row per
    corpus vector, ``(id, codes array<int>)`` with ``codes[s+1]`` the
    subspace-s code (plus ``__d{s}`` rounded per-subspace quantization
    distances when ``with_dists``); codebooks is (s, code, centroid).
    """
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    subdim = dim // m
    points = _sub_points(corpus, id_col, vec_col, m, subdim)
    if train_on is None:
        tpoints = points
        cents = _sub_points(
            corpus.filter(F.col(id_col) < pq_k), id_col, vec_col, m, subdim
        ).select(
            "s",
            F.col(id_col).cast("int").alias("cluster"),
            F.col("p").alias("centroid"),
        )
    else:
        tpoints = _sub_points(train_on, id_col, vec_col, m, subdim)
        wi = Window.orderBy(F.col(id_col).asc())
        seeds = (
            train_on.select(id_col, vec_col)
            .orderBy(F.col(id_col).asc())
            .limit(pq_k)
            .select(
                (F.row_number().over(wi) - 1).cast("int").alias("cluster"),
                F.col(vec_col).alias("v"),
            )
        )
        cents = seeds.select(
            "cluster",
            F.posexplode(
                F.array(
                    *[
                        F.slice("v", s * subdim + 1, subdim)
                        for s in range(m)
                    ]
                )
            ).alias("s", "centroid"),
        ).select("s", "cluster", "centroid")
    for _ in range(iters):
        assigned = (
            tpoints.join(F.broadcast(cents), "s")
            .withColumn("d", _flat_sq_dist("p", "centroid", subdim))
            .groupBy(id_col, "s")
            .agg(
                F.min(
                    F.struct(
                        F.col("d").alias("d"),
                        F.col("cluster").alias("cluster"),
                        F.col("p").alias("p"),
                    )
                ).alias("__b")
            )
            .select(
                "s",
                F.col("__b.cluster").alias("cluster"),
                F.col("__b.p").alias("p"),
            )
        )
        per_dim = (
            assigned.select("s", "cluster", F.posexplode("p").alias("dim", "x"))
            .groupBy("s", "cluster", "dim")
            .agg(
                (
                    F.sum(F.round(F.col("x").cast("double") * 1e9).cast("long"))
                    .cast("double")
                    / (F.count("x") * F.lit(1_000_000_000)).cast("double")
                ).alias("m")
            )
        )
        cents = per_dim.groupBy("s", "cluster").agg(
            F.transform(
                F.sort_array(F.collect_list(F.struct("dim", "m"))),
                lambda r: r["m"],
            ).alias("centroid")
        )
    # final encode: per-id argmin for ALL m subspaces in one partial
    # aggregation — min(when(s == i, ...)) ignores the other
    # subspaces' rows, so column i is exactly subspace i's argmin
    enc = (
        points.join(F.broadcast(cents), "s")
        .withColumn("d", _flat_sq_dist("p", "centroid", subdim))
        .groupBy(id_col)
        .agg(
            *[
                F.min(
                    F.when(
                        F.col("s") == s,
                        F.struct(
                            F.col("d").alias("d"),
                            F.col("cluster").alias("cluster"),
                        ),
                    )
                ).alias(f"__m{s}")
                for s in range(m)
            ]
        )
    )
    codes_wide = enc.select(
        id_col,
        F.array(*[F.col(f"__m{s}.cluster") for s in range(m)]).alias("codes"),
        *(
            [F.round(F.col(f"__m{s}.d"), 6).alias(f"__d{s}") for s in range(m)]
            if with_dists
            else []
        ),
    )
    codebooks = cents.select("s", F.col("cluster").alias("code"), "centroid")
    return codes_wide, codebooks


def pq_encode(
    corpus: DataFrame,
    dim: int,
    m: int = 4,
    k: int = 4,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Product quantization (Jégou et al., TPAMI'11): split each
    vector into ``m`` subvectors, train an independent deterministic
    k-means codebook per subspace (lowest-id init, integer-scaled
    exact means), and encode every vector as m small code ids. With
    m=4,k=4 a 64-dim float vector compresses to 4 codes (vs 64
    floats) — the storage layout an IVF-PQ index ingests at 100 TB;
    ``recon_err`` (sum of per-subspace quantization distances, fixed
    addition order) is the compression-quality knob.

    Every stage inherits the kmeans construction's
    bit-reproducibility, so the whole encoding is
    DuckDB-oracle-checkable. Round 13: the m trainings run FUSED in
    one Lloyd chain per iteration (:func:`_pq_train_all`, guide §2.2)
    — bit-identical to the m sequential runs (parity-pinned), m-fold
    fewer stages, and the m-way code join on the vector id collapses
    into the encoder's single aggregation.
    """
    codes_wide, _ = _pq_train_all(
        corpus, dim, m, k, iters, id_col, vec_col, with_dists=True
    )
    err = None
    for s in range(m):
        d = F.col(f"__d{s}")
        err = d if err is None else err + d
    return codes_wide.select(
        id_col,
        *[F.element_at("codes", s + 1).alias(f"code{s}") for s in range(m)],
        F.round(err, 6).alias("recon_err"),
    )


def ivfpq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    coarse_k: int = 4,
    m: int = 4,
    pq_k: int = 4,
    iters: int = 2,
    nprobe: int = 2,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    rerank: int | None = None,
    train_sample: int | None = None,
) -> DataFrame:
    """IVF-PQ search with asymmetric distance computation (ADC) —
    the index layout production ANN runs at 100 TB (FAISS IVFPQ,
    Jégou et al. TPAMI'11), expressed as a DataFrame plan:

    1. coarse quantizer: deterministic k-means cells over the corpus
       (``kmeans_iterate``); queries probe only their ``nprobe``
       nearest cells (squared-distance probe, ADC's metric);
    2. product quantizer: an independent deterministic codebook per
       subspace; the corpus is stored as m code ids per vector;
    3. ADC: per (query, subspace, code) the distance table
       ``||q_s - codebook_s[code]||^2`` is precomputed (queries ×
       m × pq_k rows — broadcast), and a candidate's approximate
       distance is the SUM of its m looked-up entries. The corpus
       vectors themselves are never touched at query time.

    Determinism: every stage inherits kmeans_iterate's
    bit-reproducibility; LUT entries round to 6 dp and the per-
    candidate sum goes through DECIMAL so addition order is moot.

    Scale: query cost = (candidates in probed cells) × m code-table
    rows joined against a broadcast LUT — never the corpus, never the
    raw vectors. The m codebook trainings are |V|-row kmeans runs at
    build time. Top-k per query is a window over candidates only.

    ``rerank=R`` (the FAISS refine stage) takes the ADC top-R
    shortlist and re-ranks it by exact cosine against the corpus
    vectors (touched for shortlist rows only), returning (query_id,
    rank, neighbor_id, sim) — see :func:`ivfpq_rerank` for the
    measured recall this buys on tightly clustered corpora, where raw
    ADC ties within cells.

    ``train_sample=s`` trains the quantizers on the 1/s id-slice only
    (see :func:`_ivfpq_train`) — the knob that keeps the build's Lloyd
    iterations sample-sized at 1e9 vectors."""
    assign, coarse_cents, codes, codebooks = _ivfpq_train(
        corpus, dim, coarse_k, m, pq_k, iters, id_col, vec_col,
        train_sample=train_sample,
    )
    shortlist = _ivfpq_query(
        assign, coarse_cents, codes, codebooks, queries,
        dim, m, nprobe, rerank if rerank else k, id_col, vec_col,
    )
    if rerank is None:
        return shortlist
    return ivfpq_rerank(shortlist, queries, corpus, k, id_col, vec_col)


def _ivfpq_train(
    corpus: DataFrame,
    dim: int,
    coarse_k: int,
    m: int,
    pq_k: int,
    iters: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    train_sample: int | None = None,
    train_on: DataFrame | None = None,
):
    """Index-build stage shared by ivfpq_topk (inline) and ivfpq_build
    (persisted): coarse assignment + centroids, corpus PQ code rows,
    and the per-subspace codebooks as one (s, code, centroid) frame.

    ``train_sample=s`` trains the coarse quantizer and every PQ
    codebook on a deterministic 1/s slice (FAISS trains on a bounded
    sample for exactly this reason — the Lloyd iterations are the
    only corpus x iters x k term in the build); assignment and
    encoding still cover every corpus row. The slice keeps rows whose
    Knuth multiplicative mix ``(id * 2654435761) mod 2^32`` falls
    under ``2^32 / s`` — a HIGH-bit threshold test, for two measured
    reasons: (a) raw ingestion ids correlate with content (the
    planted-cluster fixture proves it — an ``id % 4`` stride landed
    every init point in 2 of 8 clusters and cost 0.16 recall), and
    (b) ``mix % s`` is NOT decorrelated either — an odd multiplier
    leaves the low bits congruent to the id's (K ≡ 1 mod 4 here, so
    mix ≡ id mod 4 exactly); multiplicative hashing randomizes the
    high bits only, so the membership test must compare against a
    threshold, not take a low-bit modulus. Pure int64 arithmetic
    either way, so a DuckDB oracle mirrors it verbatim
    (``(vec_id * 2654435761) % 4294967296 < 4294967296 // s``) and
    the sampled build stays value-hash-certifiable.

    ``train_on`` passes an explicit training frame instead (takes
    precedence over ``train_sample``) — how the incremental index
    lifecycle expresses "quantizers frozen at build time, rows keep
    arriving": train_on = the build-time corpus, corpus = everything
    indexed since."""
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    if train_on is not None:
        train = train_on
    else:
        train = (
            corpus.filter(
                F.pmod(
                    F.col(id_col).cast("long") * F.lit(2654435761),
                    F.lit(4294967296),
                )
                < F.lit(4294967296 // train_sample)
            )
            if train_sample is not None and train_sample > 1
            else None
        )
    # dim=None: the coarse quantizer runs on full-dim vectors, where
    # the flat distance's per-iteration codegen constant loses at both
    # bench scales (measured A/B in _flat_sq_dist / OPTIMIZATION_r12.md)
    assign, coarse_cents = kmeans_iterate(
        corpus, k=coarse_k, iters=iters, id_col=id_col, vec_col=vec_col,
        return_centroids=True, train_on=train, dim=None,
    )
    # round 13: the m independent subspace trainings run FUSED in one
    # Lloyd chain per iteration over the (s, subvector) frame
    # (_pq_train_all, guide §2.2) — bit-identical (parity-pinned),
    # m-fold fewer stages/broadcasts per build, and the codes come
    # back WIDE (one (id, codes array) row per vector) so the query
    # stage joins one narrow row per candidate instead of m
    codes_wide, codebooks = _pq_train_all(
        corpus, dim, m, pq_k, iters, id_col, vec_col, train_on=train
    )
    return (
        assign.select(id_col, F.col("cluster").alias("cell")),
        coarse_cents,
        codes_wide,
        codebooks,
    )


def _ivfpq_query(
    assign: DataFrame,
    coarse_cents: DataFrame,
    codes: DataFrame,
    codebooks: DataFrame,
    queries: DataFrame,
    dim: int,
    m: int,
    nprobe: int,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Query stage: probe cells, build the per-query ADC lookup MAP
    from the codebooks, and read each candidate's m distances with
    map lookups on its wide code row (round 13, guide §3.1 — the old
    long-form spelling joined candidates x m code rows against a
    broadcast LUT frame and re-aggregated per candidate: two
    candidate-proportional exchanges plus an m-fold row expansion,
    all replaced by element_at on a broadcast map). The decimal sum
    adds the same m 6dp-rounded entries as the old
    sum(cast(decimal(18,6))), exactly (decimal addition is exact), so
    adc_dist is bit-identical.

    ``codes`` is the wide (id, codes array<int>) frame from
    :func:`_pq_train_all` / the persisted index."""
    q = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv"))
    subdim = dim // m

    wc = Window.partitionBy("query_id").orderBy(
        F.col("cd").asc(), F.col("cluster").asc()
    )
    probed = (
        q.crossJoin(F.broadcast(coarse_cents))
        .withColumn("cd", F.round(sq_dist("qv", "centroid"), 6))
        .withColumn("cr", F.row_number().over(wc))
        .filter(F.col("cr") <= nprobe)
        .select("query_id", F.col("cluster").alias("cell"))
    )

    # q subvector per subspace, joined to that subspace's codebook
    qsub = None
    for s in range(m):
        part = q.select(
            "query_id", F.lit(s).alias("s"),
            F.slice("qv", s * subdim + 1, subdim).alias("qs"),
        )
        qsub = part if qsub is None else qsub.unionByName(part)
    lut_rows = (
        qsub.join(F.broadcast(codebooks), "s")
        .select(
            "query_id", "s", "code",
            F.round(
                F.aggregate(
                    F.zip_with(
                        F.col("qs"), F.col("centroid"),
                        lambda x, y: (x.cast("double") - y.cast("double"))
                        * (x.cast("double") - y.cast("double")),
                    ),
                    F.lit(0.0),
                    lambda acc, v: acc + v,
                ),
                6,
            ).alias("d"),
        )
    )

    # per-query lookup MAP keyed by (s, code): queries x m x pq_k
    # entries total — broadcast-tiny, and element_at reads it inside
    # the same codegen stage as the cell join, so no candidate-sized
    # exchange ever carries the map
    lut_map = lut_rows.groupBy("query_id").agg(
        F.map_from_entries(
            F.collect_list(
                F.struct(
                    F.struct(
                        F.col("s").alias("s"), F.col("code").alias("code")
                    ).alias("key"),
                    F.col("d").alias("value"),
                )
            )
        ).alias("__lut")
    )
    # (id, cell) |><| (id, codes): 1:1 on the id — both sides are
    # corpus-narrow (inline: both already hash-partitioned by id from
    # their argmin aggregations; serve: two slim parquet scans)
    base = assign.join(codes, id_col)
    term = None
    for s in range(m):
        t = F.element_at(
            F.col("__lut"),
            F.struct(
                F.lit(s).alias("s"),
                F.element_at("codes", s + 1).alias("code"),
            ),
        ).cast("decimal(18,6)")
        term = t if term is None else term + t
    adc = (
        base.join(F.broadcast(probed), "cell")
        .filter(F.col(id_col) != F.col("query_id"))
        .join(F.broadcast(lut_map), "query_id")
        .select(
            "query_id",
            F.col(id_col).alias("neighbor_id"),
            term.cast("double").alias("adc_dist"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("adc_dist").asc(), F.col("neighbor_id").asc()
    )
    return (
        adc.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", "adc_dist")
    )


def ivfpq_rerank(
    shortlist: DataFrame,
    queries: DataFrame,
    vectors: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact-cosine refinement of an ADC shortlist (FAISS's refine
    stage): re-rank ``shortlist``'s (query_id, neighbor_id) pairs by
    true cosine against the raw vectors and keep the top ``k``.

    Why it exists: PQ quantization error is cluster-radius-scale, so
    ADC ranks BETWEEN clusters well but ties WITHIN a tight cluster —
    measured on the planted-cluster fixture (SCALE.md round 8),
    ADC-only recall@5 is 0.045 at 2-bit codes while shortlist-50 +
    exact re-rank reaches 0.645 at the SAME codes and 0.95+ at 5-bit.
    Scale: the raw vectors are touched for shortlist rows ONLY
    (queries x shortlist_k, never the corpus) — one equi-join per
    side, so the refine stage costs ~1e-4 of a brute-force scan at
    1e9 docs / 50-row shortlists."""
    rr = (
        shortlist.select("query_id", "neighbor_id")
        .join(
            vectors.select(
                F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv")
            ),
            "neighbor_id",
        )
        .join(
            F.broadcast(
                queries.select(
                    F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv")
                )
            ),
            "query_id",
        )
        .withColumn("sim", F.round(cosine("qv", "cv"), 6))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        rr.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", "sim")
    )


def ivfpq_build(
    corpus: DataFrame,
    path: str,
    dim: int,
    coarse_k: int = 4,
    m: int = 4,
    pq_k: int = 4,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    train_sample: int | None = None,
    train_on: DataFrame | None = None,
) -> None:
    """Persist the IVF-PQ index: cell assignment, PQ code rows, coarse
    centroids, and codebooks — the build-once artifact ``ivfpq_search``
    serves queries from without touching the corpus vectors again
    (what the inline ``ivfpq_topk`` retrains per call; at 100 TB the
    build is a scheduled job and searches amortize it to zero).
    ``train_sample`` / ``train_on``: see :func:`_ivfpq_train` — the
    scheduled build is where sample-trained quantizers matter most.
    An index that will be GROWN with :func:`ivfpq_index_update`
    should pass ``train_on=corpus`` (even for full-corpus training):
    that selects the rank-based k-means init (k smallest ids of the
    training frame renumbered 0..k-1), which stays well-defined when
    the build corpus lacks ids 0..k-1 — the default ``id < k``
    shortcut silently trains fewer centroids there.

    Layout: ``path/{assign,codes,coarse,codebooks}`` parquet;
    assignment and code rows bucket-ready (keyed by cell / id)."""
    import os

    assign, coarse_cents, codes, codebooks = _ivfpq_train(
        corpus, dim, coarse_k, m, pq_k, iters, id_col, vec_col,
        train_sample=train_sample, train_on=train_on,
    )
    assign.write.mode("overwrite").parquet(os.path.join(path, "assign"))
    codes.write.mode("overwrite").parquet(os.path.join(path, "codes"))
    coarse_cents.write.mode("overwrite").parquet(os.path.join(path, "coarse"))
    codebooks.write.mode("overwrite").parquet(os.path.join(path, "codebooks"))


def ivfpq_search(
    spark,
    path: str,
    queries: DataFrame,
    dim: int,
    m: int = 4,
    nprobe: int = 2,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    rerank: int | None = None,
    vectors: DataFrame | None = None,
) -> DataFrame:
    """ADC search against a persisted IVF-PQ index (see
    :func:`ivfpq_build`): zero training cost per query batch, corpus
    vectors never read — the steady-state ANN serving shape.

    ``rerank=R`` takes the ADC top-R shortlist instead of top-k and
    refines it by exact cosine against ``vectors`` (the raw embedding
    table — required with rerank), returning (query_id, rank,
    neighbor_id, sim). The vectors are read for shortlist rows only,
    so the refine join costs queries x R, never the corpus — see
    :func:`ivfpq_rerank` for the measured recall this buys."""
    import os

    shortlist = _ivfpq_query(
        spark.read.parquet(os.path.join(path, "assign")),
        spark.read.parquet(os.path.join(path, "coarse")),
        spark.read.parquet(os.path.join(path, "codes")),
        spark.read.parquet(os.path.join(path, "codebooks")),
        queries, dim, m, nprobe, rerank if rerank else k, id_col, vec_col,
    )
    if rerank is None:
        return shortlist
    if vectors is None:
        raise ValueError("rerank requires the raw `vectors` DataFrame")
    return ivfpq_rerank(shortlist, queries, vectors, k, id_col, vec_col)


def ivfpq_index_update(
    spark,
    path: str,
    batch: DataFrame,
    dim: int,
    m: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Append a new ingest batch to a persisted IVF-PQ index (see
    :func:`ivfpq_build`) against the FROZEN build-time quantizers —
    the per-ingest maintenance path that completes the ANN
    build/update/serve lifecycle (mirror of substring_index_update /
    simhash_index_build(mode="append")): the batch is assigned to its
    nearest frozen coarse cell and PQ-encoded against the frozen
    codebooks, and the (id, cell) / (id, codes) rows are appended
    to ``path/{assign,codes}``. The centroid/codebook artifacts are
    untouched, so updating never re-trains and never touches prior
    rows — per-ingest cost is |batch| x (coarse_k + m x pq_k)
    broadcast-argmin evaluations plus two appends. Assignment and
    encoding use the identical argmin + lower-id tie-break as the
    build's final pass, so (build(c1) then update(c2)) is
    row-identical to a build over c1+c2 with quantizers trained on c1
    (``_ivfpq_train(train_on=c1)``) — equality pinned in
    tests/test_round9_plans.py. Same exactly-once caveat as
    substring_index_update: one append per batch, the caller dedups
    replays (foreachBatch + checkpoint in the streaming path).

    FAISS parity: IndexIVFPQ.add() after train() — adding vectors
    never retrains; periodic rebuilds (a fresh ivfpq_build) absorb
    distribution drift, the standard production cadence."""
    import os

    if dim % m:
        # Mirror _ivfpq_train's guard (ADVICE r9): a mismatched m here
        # would silently slice short subvectors and append corrupt PQ
        # codes to the persisted index.
        raise ValueError(f"dim={dim} not divisible by m={m}")

    coarse = spark.read.parquet(os.path.join(path, "coarse"))
    codebooks = spark.read.parquet(os.path.join(path, "codebooks"))
    subdim = dim // m

    pts = batch.select(id_col, F.col(vec_col).alias("p"))
    # full-dim coarse assign: fold distance (see _flat_sq_dist)
    assign_new = _argmin_assign(pts, coarse, id_col, None).select(
        id_col, F.col("cluster").alias("cell")
    )

    # all m subspace encodings in ONE argmin aggregation over the
    # (s, subvector) frame against the broadcast frozen codebooks
    # (round 13 — same fusion as _pq_train_all's encoder, same
    # per-subspace argmin + lower-code tie-break as before, appended
    # WIDE to match the build's codes layout)
    cb = codebooks.select("s", F.col("code").alias("cluster"), "centroid")
    code_new = (
        _sub_points(batch, id_col, vec_col, m, subdim)
        .join(F.broadcast(cb), "s")
        .withColumn("d", _flat_sq_dist("p", "centroid", subdim))
        .groupBy(id_col)
        .agg(
            *[
                F.min(
                    F.when(
                        F.col("s") == s,
                        F.struct(
                            F.col("d").alias("d"),
                            F.col("cluster").alias("cluster"),
                        ),
                    )
                ).alias(f"__m{s}")
                for s in range(m)
            ]
        )
        .select(
            id_col,
            F.array(*[F.col(f"__m{s}.cluster") for s in range(m)]).alias("codes"),
        )
    )

    assign_new.write.mode("append").parquet(os.path.join(path, "assign"))
    code_new.write.mode("append").parquet(os.path.join(path, "codes"))


def _hyperplane_keys_col(vec_col: str, n_planes: int, n_tables: int, impl: str):
    """array<int> of the n_tables bucket keys for ``vec_col``.

    impl="pandas" (default): Arrow-batched numpy, bit-identical to the
    fold (equality asserted in tests/test_round9_plans.py); impl="sql"
    keeps the interpreted higher-order-function spelling as the
    oracle-documented reference."""
    if impl == "sql":
        return F.array(*[
            F.expr(H.spark_hyperplane_bucket_table(vec_col, n_planes, t))
            for t in range(n_tables)
        ])
    from ..functions import hashing_pandas as HP

    @F.pandas_udf("array<int>")
    def keys_udf(v: pd.Series) -> pd.Series:
        return HP.hyperplane_keys_series(v, n_planes, n_tables)

    return keys_udf(F.col(vec_col))


def choose_lsh_planes(
    n_docs: int, target_occupancy: int = 16, lo: int = 4, hi: int = 24
) -> int:
    """Plane count holding expected bucket occupancy n_docs /
    2^n_planes near ``target_occupancy`` — the survivable-default rule
    for :func:`embedding_lsh_pairs` (mirrors choose_simhash_banding):
    candidates per table ~ buckets * C(occupancy, 2), LINEAR in the
    corpus at constant occupancy. Recall per table falls as planes
    grow ((1 - theta/pi)^n_planes), so production amplifies with more
    ``n_tables`` as it scales — that knob stays explicit (it is a
    recall budget, not a survival constraint)."""
    import math

    if n_docs <= target_occupancy:
        return lo
    return max(lo, min(hi, math.ceil(math.log2(n_docs / target_occupancy))))


def embedding_lsh_pairs(
    corpus: DataFrame,
    threshold: float = 0.4,
    n_planes: int | None = None,
    n_tables: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    block_cols: tuple[str, ...] = (),
    impl: str = "pandas",
) -> DataFrame:
    """Embedding near-dup pairs with BOUNDED candidate generation
    (VERDICT r8 task 1 — replaces the raw intra-block all-pairs join,
    the engine's last corpus^2 plan): random-hyperplane LSH banding
    with OR-amplification, exact-cosine verification.

    Candidates = pairs sharing ``block_cols`` AND at least one of
    ``n_tables`` independent hyperplane bucket keys (table t = the
    sign pattern of planes [t*n_planes, (t+1)*n_planes) — fixed
    PUBLIC pseudo-random planes, functions/hashing.py, so the
    buckets, candidate set, and ranking are bit-deterministic across
    engines and the whole plan is DuckDB-oracle-checkable). Verified
    pairs carry exact 6dp-rounded cosine >= ``threshold``.

    RECALL CONTRACT (documented, like ngram_jaccard's length_band):
    a true pair is missed iff some plane separates it in EVERY
    table — P(candidate | angle theta) = 1 - (1 - (1 - theta/pi)^
    n_planes)^n_tables. At near-dup similarity (cos >= 0.95, theta
    <= 18deg) the default 4x2 reaches ~0.88 and 4-table
    amplification ~0.99; at the 0.4 threshold boundary recall is
    intentionally lower — LSH trades borderline-pair recall for the
    corpus^2 -> linear candidate bound, the same trade every
    production embedding-dedup pipeline makes (the lossless
    alternative for thresholded cosine does not exist without a
    data-dependent index; `dedup_semdedup` / IVF cells are the
    in-repo data-dependent variants).

    SCALE: ``n_planes`` is the bucket-size knob — buckets per table =
    2^n_planes, so expected bucket occupancy n_docs / (blocks *
    2^n_planes) is held ~constant by n_planes ~ log2(n_docs). The
    DEFAULT (``n_planes=None``) applies exactly that rule
    (:func:`choose_lsh_planes`, one column-pruned count at plan
    build) so the default plan stays linear at every corpus size;
    the oracle-checked registry row pins n_planes=4 explicitly (a
    data-dependent plane count is not expressible in a static SQL
    oracle). ``n_tables`` buys recall linearly in probe rows.
    Candidate count = sum of per-(block, table, bucket)
    C(occupancy, 2) — linear in the corpus at constant occupancy;
    measured in the 10x/100x bench accounting
    (embedding_lsh_accounting). The band join is shuffle_hash-hinted
    like simhash_pairs: the banded frame is corpus-proportional and
    the static planner would broadcast it on the pre-explode
    estimate (the round-7 broadcast-audit OOM class).

    Plan: keys (one Arrow projection) -> posexplode -> self-join on
    (block, table, key) -> distinct id pairs -> re-join the two
    embedding arrays -> exact cosine filter. The distinct runs BEFORE
    the (interpreted-fold) cosine so each surviving pair pays the
    verification exactly once; candidates carry ids only, never the
    vectors.
    """
    if n_planes is None:
        n_planes = choose_lsh_planes(corpus.select(id_col).count())
    base = corpus.select(
        F.col(id_col).alias("id"), *block_cols, F.col(vec_col).alias("v")
    ).repartition(corpus.sparkSession.sparkContext.defaultParallelism)
    keys = _hyperplane_keys_col("v", n_planes, n_tables, impl)
    banded = base.withColumn("__keys", keys).select(
        "id", *block_cols, F.posexplode("__keys").alias("tbl", "bkey")
    )
    rhs = banded.select(
        *block_cols, "tbl", "bkey", F.col("id").alias("id2")
    )
    cand = (
        banded.join(rhs.hint("shuffle_hash"), list(block_cols) + ["tbl", "bkey"])
        .filter(F.col("id") < F.col("id2"))
        .select("id", "id2")
        .distinct()
    )
    lhs_v = base.select(F.col("id").alias("id"), F.col("v").alias("v1"))
    rhs_v = base.select(F.col("id").alias("id2"), F.col("v").alias("v2"))
    # shuffle_hash hints on BOTH vector-side verification joins
    # (round 13, was merge — same protection): the frames are
    # corpus-proportional (full-width embedding arrays), and the
    # static planner broadcasts them off the pre-UDF scan estimate
    # (round-7 broadcast-audit OOM class; observed BuildRight on both
    # at sf0.01 without the hints); the hashed shuffle join streams
    # the candidates with no sort of the array-carrying side
    return (
        cand.join(lhs_v.hint("shuffle_hash"), "id")
        .join(rhs_v.hint("shuffle_hash"), "id2")
        .withColumn("sim", F.round(cosine("v1", "v2"), 6))
        .filter(F.col("sim") >= threshold)
        .select(
            F.col("id").alias("vec_id_1"),
            F.col("id2").alias("vec_id_2"),
            "sim",
        )
    )


def embedding_lsh_accounting(
    corpus: DataFrame,
    threshold: float = 0.4,
    n_planes: int | None = None,
    n_tables: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    block_cols: tuple[str, ...] = (),
) -> dict[str, int]:
    """Candidates (post band join + distinct, pre verification) vs
    survivors for :func:`embedding_lsh_pairs` — the number the scaled
    bench tracks so the linear-candidates claim is measured, not
    argued (same contract as ngram_jaccard_accounting). n_planes=None
    applies the choose_lsh_planes auto rule; the returned dict
    records the resolved value."""
    if n_planes is None:
        n_planes = choose_lsh_planes(corpus.select(id_col).count())
    base = corpus.select(
        F.col(id_col).alias("id"), *block_cols, F.col(vec_col).alias("v")
    ).repartition(corpus.sparkSession.sparkContext.defaultParallelism)
    keys = _hyperplane_keys_col("v", n_planes, n_tables, "pandas")
    banded = base.withColumn("__keys", keys).select(
        "id", *block_cols, F.posexplode("__keys").alias("tbl", "bkey")
    )
    rhs = banded.select(*block_cols, "tbl", "bkey", F.col("id").alias("id2"))
    cand = (
        banded.join(rhs.hint("shuffle_hash"), list(block_cols) + ["tbl", "bkey"])
        .filter(F.col("id") < F.col("id2"))
        .select("id", "id2")
        .distinct()
        .persist()
    )
    try:
        candidates = cand.count()
        lhs_v = base.select(F.col("id").alias("id"), F.col("v").alias("v1"))
        rhs_v = base.select(F.col("id").alias("id2"), F.col("v").alias("v2"))
        survivors = (
            cand.join(lhs_v.hint("shuffle_hash"), "id")
            .join(rhs_v.hint("shuffle_hash"), "id2")
            .withColumn("sim", F.round(cosine("v1", "v2"), 6))
            .filter(F.col("sim") >= threshold)
            .count()
        )
    finally:
        cand.unpersist()
    return {
        "candidates": candidates,
        "survivors": survivors,
        "n_planes": n_planes,
        "n_tables": n_tables,
    }
