"""Document deduplication at scale: exact, n-gram Jaccard,
MinHash+LSH, SimHash (north-star extension, SURVEY.md §7 step 8).

These are the operators a 100 TB training-data pipeline runs on the
``documents`` table. Candidate generation and verification are
DataFrame-native (joins, aggregations, no driver collects); the hash
computation itself runs as Arrow-batched numpy (pandas UDF) by
default because Spark evaluates higher-order-function lambdas
interpreted — the SQL spelling of the identical integer math is kept
under ``impl="sql"`` and IS the DuckDB oracle, with bit-equality
asserted in tests.

Scale design:
- candidate generation is always BLOCKED (length-band blocking for
  plain Jaccard, band-bucket join for MinHash-LSH, pigeonhole band /
  block-combination join for SimHash): the all-pairs comparison never
  materializes. Shuffle volume = docs x small-constant (bands), never
  docs^2.
- the shingle/token hashing is REPARTITIONED first and PERSISTED:
  higher-order-function lambdas evaluate interpreted (outside
  whole-stage codegen), so the fold is the dominant cost — it must
  run once per document across all cores, not once per plan
  reference. (Measured: 5000 docs on one partition = 44 s; spread
  and cached = ~1 s.)
- pair verification joins carry only (id, shingle-hash array).
- the LSH band join is a plain shuffle equi-join.  Hot bands
  (boilerplate-heavy corpora) are handled structurally: the self-dedup
  routes over-cap buckets away from collect_list
  (minhash_lsh_pairs), and the incremental join collapses identical
  shingle sets to one representative before banding
  (minhash_lsh_join), so degenerate buckets are bounded by DISTINCT
  signatures, not raw docs.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from ..functions import hashing as H
from ..functions import hashing_pandas as HP

__all__ = [
    "with_shingle_hashes",
    "ngram_jaccard_pairs",
    "ngram_jaccard_accounting",
    "minhash_lsh_pairs",
    "minhash_lsh_pairs_accounting",
    "minhash_lsh_join",
    "minhash_lsh_join_accounting",
    "simhash_fingerprints",
    "simhash_pairs",
    "simhash_index_build",
    "simhash_join",
    "containment_pairs",
    "containment_accounting",
    "containment_index_build",
    "containment_pairs_incremental",
]


def _shingle_band_frame(
    df: DataFrame, id_col: str, text_col: str, n: int
) -> DataFrame:
    """(id, sh, bands) for every doc with >= 1 shingle: the shared
    signature frame behind both the self-dedup (minhash_lsh_pairs) and
    the incremental corpus join (minhash_lsh_join).  Repartitioned
    first so the Arrow hash fold spreads across all cores."""
    import numpy as np

    @F.pandas_udf("struct<sh: array<long>, bands: array<long>>")
    def shb_udf(texts: pd.Series) -> pd.DataFrame:
        sh = texts.map(lambda t: np.unique(HP.shingle_hashes(HP.token_hashes(t or ""), n)))
        bands = sh.map(
            lambda s: HP.band_keys(HP.minhash_sigs(s))
            if len(s)
            else np.empty(0, dtype=np.int64)
        )
        return pd.DataFrame({"sh": sh, "bands": bands})

    spark = df.sparkSession
    return (
        df.select(id_col, text_col)
        .repartition(spark.sparkContext.defaultParallelism)
        .select(F.col(id_col).alias("id"), shb_udf(F.col(text_col)).alias("r"))
        .select("id", F.col("r.sh").alias("sh"), F.col("r.bands").alias("bands"))
        .filter(F.size("sh") > 0)
    )


def with_shingle_hashes(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 2,
    extra_cols: tuple[str, ...] = (),
    impl: str = "pandas",
) -> DataFrame:
    """(id, sh [, extra]): distinct word-n-gram shingle hashes per
    document, spread across cores before hashing.

    impl="pandas" (default): Arrow-batched numpy — same integer math,
    ~20x faster than the interpreted higher-order-function spelling
    (impl="sql", kept as the oracle-documented reference; bit-equality
    asserted in tests).
    """
    spark = df.sparkSession
    src = df.select(id_col, text_col, *extra_cols).repartition(
        spark.sparkContext.defaultParallelism
    )
    if impl == "sql":
        return (
            src.withColumn("h", F.expr(H.spark_token_hashes(text_col)))
            .withColumn("sh", F.array_distinct(F.expr(H.spark_shingle_hashes("h", n))))
            .select(F.col(id_col).alias("id"), "sh", *extra_cols)
        )

    @F.pandas_udf("array<long>")
    def sh_udf(texts: pd.Series) -> pd.Series:
        return HP.shingle_series(texts, n)

    return src.withColumn("sh", sh_udf(F.col(text_col))).select(
        F.col(id_col).alias("id"), "sh", *extra_cols
    )


def _jaccard(a: str, b: str):
    inter = F.size(F.array_intersect(F.col(a), F.col(b)))
    union = F.size(F.array_union(F.col(a), F.col(b)))
    return inter / union


def _tq(threshold: float) -> tuple[int, int]:
    """Drift-safe guard for threshold-derived INTEGER bounds: a double
    product can overshoot an exact integer (0.55 * 60 =
    33.000000000000004; (1 - 0.55) * 60 = 26.999999999999996), so a
    bare ceil()/floor() inflates/deflates the bound by 1 and the
    lossless prefix/positional/count filters silently over-tighten —
    dropping pairs exact verification accepts (ADVICE r7).

    Returns (p, q) with q = 1e9 and p/q the threshold's exact 9-dp
    rational, so every bound becomes pure int64 arithmetic:
    ceil(t*sz)  == (p*sz + q-1) div q,
    floor(t*sz) == (p*sz) div q,
    sz2 >= t*sz <=> q*sz2 >= p*sz.
    Same semantics as rounding the double product to 9 decimals (the
    exact rational for any human-scale threshold; a genuinely
    non-integral bound only LOOSENS by one row — never drops a true
    pair), but integer ops per row instead of Spark's Round, whose
    double path allocates a BigDecimal PER ROW — measured +49% on the
    containment candidate join at 100x when the round sat inside the
    join filters (round-8 bench diff). Overflow-safe: p*sz <= 1e9 *
    shingles-per-doc, far inside int64. The final verification
    filters (jaccard/containment >= threshold) are NOT guarded: they
    are plain double comparisons that mirror the oracle's float math
    exactly.

    p is CLAMPED so p/q <= threshold as doubles (ADVICE r8): bare
    round() can land ABOVE the double threshold (t = 2/3 ->
    p = 666666667, p/q = 0.666666667 > 0.66666666666666663), and a
    rational sitting above t re-tightens every derived bound past
    what the float verification accepts — the exact bug class this
    helper exists to prevent, reintroduced for any threshold whose
    9-dp rounding exceeds its double value. Decrementing p keeps
    decimal thresholds exact (their rounding never overshoots) and
    makes a non-decimal threshold's bound one row LOOSER — lossless,
    the verification filter still applies t itself. Boundary
    fixtures: tests/test_round9_plans.py (t = 2/3, sz = 3)."""
    q = 1_000_000_000
    p = round(threshold * q)
    if p / q > threshold:
        p -= 1
    return p, q


def _prefix_candidates(
    shingled: DataFrame,
    keys: list[str],
    threshold: float,
    cache_prefix: bool = True,
) -> DataFrame:
    """PPJoin prefix + positional + length filtering (Xiao et al.,
    WWW'08) within blocks — LOSSLESS. Prefix principle: if
    |A∩B| >= a then the (|A|-a+1)-prefix of A and the (|B|-a+1)-prefix
    of B intersect; jaccard >= t gives a = ceil(t*max(|A|,|B|)) >=
    ceil(t*|A|), so prefixes of length |x| - ceil(t|x|) + 1 suffice
    for BOTH probe and index sides (PPJoin's indexing scheme — the
    inverted index holds prefix tokens only, halving match volume vs
    a prefix-x-full join; equality vs the plain block join is tested).
    Prefix tokens are each doc's globally-RAREST shingles
    (doc-frequency ascending, hash tiebreak), keeping inverted lists
    short on Zipfian vocabularies. Candidates are further pruned by:

    - LENGTH filter: jaccard >= t forces t*|A| <= |B| <= |A|/t.
    - POSITIONAL filter: both token arrays are sorted by the SAME
      global (df, t) order, so the smallest common token sits at the
      minimal position pa in A AND pb in B simultaneously (and, by the
      prefix principle, inside both prefixes); every common token
      lives in the suffixes after it, so
      |A∩B| <= 1 + min(|A|-pa-1, |B|-pb-1). jaccard >= t needs
      |A∩B| >= t/(1+t)*(|A|+|B|); a pair survives iff SOME matching
      token passes the bound, and for true pairs the first-common-
      token match always does.

    Shuffle volume is docs x shingles (the index build) + the pruned
    candidate set — never the block-quadratic pair count.

    Cache contract: the prefix-token frame stays persisted for the
    session — it is the PPJoin inverted index, re-served by Spark's
    cache manager to every identical plan (warm bench runs measure
    exactly that reuse). Callers running one-shot can
    ``spark.catalog.clearCache()``."""
    tok = shingled.select("id", *keys, F.explode("sh").alias("t"))
    dfreq = tok.groupBy("t").agg(F.count("*").alias("df"))
    ordered = (
        # shuffle_hash hint (round 13, was merge): the post-explode
        # size estimate would statically broadcast the vocabulary
        # whatever its true size (the containment OOM class, SCALE.md
        # round 7) — a hinted shuffle join still prevents that, and
        # hash-building the slim (t, df) side streams the exploded
        # token frame with no t-sort (the verify-join spill class,
        # guide §3.1/§5)
        tok.join(dfreq.hint("shuffle_hash"), "t")
        .groupBy("id", *keys)
        .agg(
            F.expr(
                "transform(array_sort(collect_list(struct(df, t))), s -> s.t)"
            ).alias("shf"),
            F.count("*").alias("sz"),
        )
    )
    # One positional PREFIX-token frame feeds both join sides.
    # Persisted: the dfreq join + per-doc sort above is the expensive
    # subtree, and without the cache the self-join computes it twice
    # (no ReusedExchange — the two sides' plans differ).
    p, q = _tq(threshold)
    ptok = ordered.withColumn(
        "plen",
        F.expr(f"cast(sz - (({p}L * sz + {q - 1}L) div {q}L) + 1 as int)"),
    ).select(
        "id",
        *keys,
        "sz",
        F.posexplode(F.expr("slice(shf, 1, plen)")).alias("pa", "t"),
    )
    if cache_prefix:
        ptok = ptok.persist(StorageLevel.MEMORY_AND_DISK)
    rtok = ptok.select(
        F.col("id").alias("id2"),
        *keys,
        F.col("sz").alias("sz2"),
        F.col("pa").alias("pb"),
        "t",
    )
    # jaccard >= t needs |A∩B| >= t/(1+t)*(|A|+|B|): with t = p/q the
    # ceiling is (p*(sz+sz2) + p+q-1) div (p+q) — exact integer math
    overlap_need = F.expr(
        f"({p}L * (sz + sz2) + {p + q - 1}L) div {p + q}L"
    )
    overlap_ub = 1 + F.least(
        F.col("sz") - F.col("pa") - 1, F.col("sz2") - F.col("pb") - 1
    )
    return (
        # shuffle_hash (round 13): the inverted-index self-join builds
        # one side's prefix tokens per partition instead of sorting
        # both 10^7-row posting frames by (keys, t)
        ptok.hint("shuffle_hash").join(rtok, keys + ["t"])
        .filter(
            (F.col("id") < F.col("id2"))
            & F.expr(f"{q}L * sz2 >= {p}L * sz")
            & F.expr(f"{q}L * sz >= {p}L * sz2")
            & (overlap_ub >= overlap_need)
        )
        .select(F.col("id").alias("a"), F.col("id2").alias("b"))
        .distinct()
    )


def _prefix_pairs(
    src: DataFrame,
    keys: list[str],
    threshold: float,
    cache_prefix: bool = True,
) -> DataFrame:
    """Candidate pairs via prefix filtering, re-joined to their
    shingle arrays for verification.

    shuffle_hash on the shingle sides (round 13, guide §3.1/§5): the
    planner's sort-merge choice sorted the array-carrying side(s) —
    the verify-join sort-spill class (3.8 GB disk at 100x, r10-r12
    episode captures). Hash-building the per-partition shingle rows
    and streaming the candidates removes both sorts; build memory is
    the corpus-shingle bytes per partition (AQE-sized)."""
    cand = _prefix_candidates(src, keys, threshold, cache_prefix)
    lhs = src.select(F.col("id").alias("a"), "sh")
    rhs = src.select(F.col("id").alias("b"), F.col("sh").alias("sh2"))
    return (
        cand.join(lhs.hint("shuffle_hash"), "a")
        .join(rhs.hint("shuffle_hash"), "b")
        .select(F.col("a").alias("id"), F.col("b").alias("id2"), "sh", "sh2")
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 2,
    threshold: float = 0.5,
    block_cols: tuple[str, ...] = (),
    length_band: int | None = 50,
    length_col: str = "n_chars",
    prefix_filter: bool = True,
    block_cap: int = 256,
    cache_prefix: bool = True,
) -> DataFrame:
    """Exact word-n-gram Jaccard over blocked candidate pairs.

    Blocking = equal ``block_cols`` + same length band (near-dups have
    near-equal length; pairs straddling a band boundary are missed by
    construction — documented contract; the no-length-assumption
    variant is minhash_lsh_pairs).

    ``prefix_filter`` (default) additionally prunes candidates with
    PPJoin prefix + positional + length filtering before verification,
    ADAPTIVELY: blocks with <= ``block_cap`` docs keep the direct pair
    join (quadratic is cheap there and the inverted-index build
    isn't), larger blocks route through the prefix filter. Lossless
    either way — a block is entirely on one path and the filters only
    drop candidates that cannot pass the threshold — so the result set
    is identical to the plain block join (equality tested). Measured
    at 10x data: 31.7M -> 1.7M verified candidates (19x), wall-clock
    flat instead of quadratic. ``prefix_filter=False`` forces the
    plain join for microbenchmark comparison.
    """
    pairs = _candidate_pair_frame(
        df, id_col, text_col, n, threshold, block_cols,
        length_band, length_col, prefix_filter, block_cap, cache_prefix,
    )
    return (
        pairs.withColumn("jaccard", _jaccard("sh", "sh2"))
        .filter(F.col("jaccard") >= threshold)
        .select(
            F.col("id").alias("doc_id_1"),
            F.col("id2").alias("doc_id_2"),
            "jaccard",
        )
    )


def _candidate_pair_frame(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int,
    threshold: float,
    block_cols: tuple[str, ...],
    length_band: int | None,
    length_col: str,
    prefix_filter: bool,
    block_cap: int,
    cache_prefix: bool = True,
) -> DataFrame:
    """Pre-verification candidate pairs with both shingle arrays
    attached — shared by ``ngram_jaccard_pairs`` (verify + emit) and
    ``ngram_jaccard_accounting`` (count candidates vs survivors).

    Cache contract: the shingle frame stays persisted for the
    session — it is the verification-side index the candidate pairs
    re-join twice, re-served by the cache manager to identical plans.
    One-shot callers: ``spark.catalog.clearCache()``."""
    extra = tuple(block_cols) + ((length_col,) if length_band is not None else ())
    shingled = with_shingle_hashes(df, id_col, text_col, n, extra_cols=extra)
    if length_band is not None:
        shingled = shingled.withColumn(
            "__band", F.floor(F.col(length_col) / length_band).cast("int")
        ).drop(length_col)
    shingled = shingled.persist(StorageLevel.MEMORY_AND_DISK)
    keys = list(block_cols) + (["__band"] if length_band is not None else [])

    def direct_pairs(src: DataFrame) -> DataFrame:
        right = src.select(
            *[F.col(c) for c in keys],
            F.col("id").alias("id2"),
            F.col("sh").alias("sh2"),
        )
        return (
            src.join(right, keys)
            .filter(F.col("id") < F.col("id2"))
            .select("id", "id2", "sh", "sh2")
        )

    if prefix_filter:
        # Driver-side split decision (an AQE-style metadata choice),
        # bounded by the HOT-block list rather than the blocking-key
        # cardinality: sizes are aggregated and filtered to > block_cap
        # SERVER-SIDE, and only a capped sample (65 rows) ever reaches
        # the driver — per-domain blocking on a real corpus can have
        # 10^7-10^8 blocks, and collecting every size would be a
        # driver-memory cliff.  The job also materializes the shingle
        # cache.  Few hot blocks => literal predicates split the rows
        # (no extra shuffle); many => semi/anti joins on the hot-key
        # frame (AQE broadcasts it when it is small).  When no block
        # is hot the prefix subtree is skipped entirely — its plan
        # overhead (index build + three extra shuffles) is pure waste
        # there.
        big = (
            shingled.groupBy(*keys)
            .agg(F.count("*").alias("__bn"))
            .filter(F.col("__bn") > block_cap)
            .select(*keys)
        )
        big_rows = big.limit(65).collect()  # bounded driver metadata
        if not big_rows:
            pairs = direct_pairs(shingled)
        elif not keys:
            # unblocked spelling (no block_cols, no length_band): the
            # corpus is ONE block, and it is hot — route it whole
            # through the prefix filter (the literal/semi split below
            # would reduce over zero key predicates)
            pairs = _prefix_pairs(shingled, keys, threshold, cache_prefix)
        elif len(big_rows) <= 64:
            import functools
            import operator

            is_big = functools.reduce(
                operator.or_,
                (
                    functools.reduce(
                        operator.and_,
                        (F.col(k) == F.lit(r[k]) for k in keys),
                    )
                    for r in big_rows
                ),
            )
            pairs = direct_pairs(shingled.filter(~is_big)).unionByName(
                _prefix_pairs(
                    shingled.filter(is_big), keys, threshold, cache_prefix
                )
            )
        else:
            pairs = direct_pairs(
                shingled.join(big, list(keys), "left_anti")
            ).unionByName(
                _prefix_pairs(
                    shingled.join(big, list(keys), "left_semi"), keys,
                    threshold, cache_prefix,
                )
            )
    else:
        pairs = direct_pairs(shingled)
    return pairs


def ngram_jaccard_accounting(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 2,
    threshold: float = 0.5,
    block_cols: tuple[str, ...] = (),
    length_band: int | None = 50,
    length_col: str = "n_chars",
    prefix_filter: bool = True,
    block_cap: int = 256,
) -> dict[str, int]:
    """Candidate-vs-survivor accounting for the exact-Jaccard dedup:
    how many pairs reached verification and how many passed. Lets a
    bench scale audit distinguish candidate-set growth (output-bound,
    expected when near-dup density rises with corpus size) from
    quadratic regression in the plan."""
    pairs = _candidate_pair_frame(
        df, id_col, text_col, n, threshold, block_cols,
        length_band, length_col, prefix_filter, block_cap,
    ).persist(StorageLevel.MEMORY_AND_DISK)
    try:
        candidates = pairs.count()
        survivors = (
            pairs.withColumn("jaccard", _jaccard("sh", "sh2"))
            .filter(F.col("jaccard") >= threshold)
            .count()
        )
    finally:
        pairs.unpersist()
    return {"candidates": candidates, "survivors": survivors}


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 2,
    threshold: float = 0.5,
    bucket_cap: int = 1000,
) -> DataFrame:
    """MinHash (k=16) + LSH (4 bands x 4 rows) candidate generation,
    exact-Jaccard verification.

    shingle -> minhash signature -> band keys -> explode ->
    bucket self-join on ids only -> distinct pairs -> re-join the
    cached shingle sets -> verify jaccard >= threshold.

    Collision probability at true Jaccard s is 1-(1-s^4)^4 (~0.96 at
    s=0.8, ~0.22 at s=0.4): candidates are a thin superset of real
    dups, so verification work ~ output size, not corpus size.

    Cache contract: the signature frame stays persisted for the
    session — it is the LSH index both the band join and the
    verification join consume, re-served by the cache manager to
    identical plans. One-shot callers: ``spark.catalog.clearCache()``.
    """
    base = _shingle_band_frame(df, id_col, text_col, n).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    # Pair generation per bucket via collect_list + combination
    # expansion: one shuffle instead of self-join + dropDuplicates.
    # LSH-sized buckets (r=4 rows) stay small, but a boilerplate-heavy
    # corpus can produce degenerate hot bands whose collect_list (and
    # its quadratic pair expansion) would OOM a task. Guard: buckets
    # <= bucket_cap take the collect_list path, larger ones route to a
    # distributed band self-join whose per-task memory is bounded by
    # the join's hash partitioning (AQE further splits skewed
    # buckets). Both paths produce the identical candidate SET.
    #
    # The split itself is a driver-side metadata decision (same
    # AQE-style choice as ngram_jaccard's block_cap): one map-side-
    # combined count finds hot bucket keys — bounded by
    # bands*docs/bucket_cap, and almost always NONE. No hot keys =>
    # the plain single-shuffle plan with zero guard overhead (the
    # earlier always-on window count paid a sort-shuffle of every
    # banded row, +43% on the sf0.1 bench); a handful => literal
    # predicates split the rows; many => broadcast anti/semi joins.
    banded = base.select(
        "id", F.posexplode("bands").alias("band_id", "band_key")
    )
    sizes = (
        banded.groupBy("band_id", "band_key")
        .agg(F.count("*").alias("__n"))
        .filter(F.col("__n") > bucket_cap)
        .select("band_id", "band_key")
    )
    hot_rows = sizes.limit(65).collect()  # bounded driver metadata
    if not hot_rows:
        cold, hot = banded, None
    elif len(hot_rows) <= 64:
        import functools
        import operator

        is_hot = functools.reduce(
            operator.or_,
            (
                (F.col("band_id") == F.lit(r["band_id"]))
                & (F.col("band_key") == F.lit(r["band_key"]))
                for r in hot_rows
            ),
        )
        cold, hot = banded.filter(~is_hot), banded.filter(is_hot)
    else:
        cold = banded.join(
            F.broadcast(sizes), ["band_id", "band_key"], "left_anti"
        )
        hot = banded.join(
            F.broadcast(sizes), ["band_id", "band_key"], "left_semi"
        )
    cold_pairs = (
        cold.groupBy("band_id", "band_key")
        .agg(F.collect_list("id").alias("ids"))
        .filter(F.size("ids") > 1)
        .select(
            F.explode(
                F.expr(
                    "flatten(transform(ids, (x, i) -> "
                    "transform(slice(ids, i + 2, size(ids)), y -> "
                    "struct(least(x, y) AS id, greatest(x, y) AS id2))))"
                )
            ).alias("p")
        )
        .select("p.id", "p.id2")
    )
    candidates = cold_pairs
    if hot is not None:
        hot_rhs = hot.select("band_id", "band_key", F.col("id").alias("id2"))
        hot_pairs = (
            hot.join(hot_rhs, ["band_id", "band_key"])
            .filter(F.col("id") < F.col("id2"))
            .select("id", "id2")
        )
        candidates = cold_pairs.unionByName(hot_pairs)
    candidates = candidates.distinct()
    lhs_sh = base.select(F.col("id"), F.col("sh"))
    rhs_sh = base.select(F.col("id").alias("id2"), F.col("sh").alias("sh2"))
    # shuffle_hash on the shingle sides (round 13): the planner's
    # sort-merge choice sorted the array-carrying signature frame per
    # verification join — the same sort-spill class as the containment
    # verify joins (guide §3.1/§5); hash-build the per-partition
    # shingle rows, stream the narrow candidate pairs, no sorts
    return (
        candidates.join(lhs_sh.hint("shuffle_hash"), "id")
        .join(rhs_sh.hint("shuffle_hash"), "id2")
        .withColumn("jaccard", _jaccard("sh", "sh2"))
        .filter(F.col("jaccard") >= threshold)
        .select(
            F.col("id").alias("doc_id_1"),
            F.col("id2").alias("doc_id_2"),
            "jaccard",
        )
    )


def minhash_lsh_pairs_accounting(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 2,
    threshold: float = 0.5,
    bucket_cap: int = 1000,
) -> dict[str, int]:
    """Candidates vs survivors for the self-dedup LSH path (mirrors
    ngram_jaccard_accounting): distinguishes candidate-density growth
    from a plan regression in a bench scale audit."""
    out = minhash_lsh_pairs(df, id_col, text_col, n, threshold, bucket_cap)
    base = _shingle_band_frame(df, id_col, text_col, n)
    banded = base.select(
        "id", F.posexplode("bands").alias("band_id", "band_key")
    )
    rhs = banded.select(F.col("id").alias("id2"), "band_id", "band_key")
    candidates = (
        banded.join(rhs, ["band_id", "band_key"])
        .filter(F.col("id") < F.col("id2"))
        .select("id", "id2")
        .distinct()
        .count()
    )
    return {"candidates": candidates, "survivors": out.count()}


def simhash_fingerprints(
    df: DataFrame, id_col: str, text_col: str, bits: int = 48, n: int = 2, impl: str = "pandas"
) -> DataFrame:
    """SimHash fingerprint per document over word-n-gram shingle
    hashes (relational formulation).

    Shingles, not unigrams: with a small vocabulary (boilerplate-heavy
    or synthetic corpora) unigram bit-votes converge to the corpus
    frequency profile and everything collides; n-gram votes are
    order-sensitive and discriminative. 48 bits divides evenly into
    both banding schemes (4x12-bit pigeonhole bands; 6x8-bit blocks
    for combination keys) and is the default; ``bits=64`` — the
    width choose_simhash_banding's contract requires at >= 1e9 docs —
    is fully supported (round 10): bit 63 packs into the long's sign
    bit as two's complement, identically in the pandas path (numpy
    int64 wrap), the SQL path (shiftleft(1L, 63)), and the DuckDB
    oracle (explicit min-long constant), and band extraction masks
    after the arithmetic shift so the sign never leaks into a key
    (boundary-pinned in tests/test_round10_plans.py).

    Instead of a nested fold with an array accumulator (which DuckDB's
    lambda surface can't mirror), the bit-vote sum is a plain
    explode -> groupBy: doc x shingle x bit -> per-bit vote sum ->
    packed integer. Shuffles key on (doc, bit) — linear scale.
    """
    src = df.select(id_col, text_col).repartition(
        df.sparkSession.sparkContext.defaultParallelism
    )
    # docs with < n tokens have no shingles and no fingerprint (the
    # relational spelling drops them via explode; mirror that here)
    src = src.filter(F.size(F.expr(H.spark_tokens(text_col))) >= n)
    if impl == "sql":
        sh = (
            src.withColumn("h", F.expr(H.spark_token_hashes(text_col)))
            .withColumn("shs", F.expr(H.spark_shingle_hashes("h", n)))
            .select(F.col(id_col).alias("id"), F.explode("shs").alias("th"))
        )
        # th < 2^30 (mod 1e9+7), so a plain bit-index only reaches 30
        # bits: vote on bit (i % 30) of a per-position re-permuted hash
        votes = sh.select(
            "id",
            F.explode(F.sequence(F.lit(0), F.lit(bits - 1))).alias("bit"),
            "th",
        ).withColumn(
            "vote",
            F.expr(
                f"CASE WHEN (((th * (1 + 2 * bit) + bit * 97) % {H.P}) >> (bit % 30)) & 1 = 1 "
                "THEN 1 ELSE -1 END"
            ),
        )
        bitsum = votes.groupBy("id", "bit").agg(F.sum("vote").alias("v"))
        return bitsum.groupBy("id").agg(
            F.sum(F.expr("CASE WHEN v >= 0 THEN shiftleft(1L, bit) ELSE 0L END")).alias(
                "simhash"
            )
        )

    @F.pandas_udf("long")
    def simhash_udf(texts: pd.Series) -> pd.Series:
        return HP.simhash_series(texts, n, bits)

    return src.select(
        F.col(id_col).alias("id"), simhash_udf(F.col(text_col)).alias("simhash")
    )


def _simhash_band_exprs(
    max_hamming: int,
    bits: int,
    n_bands: int | None,
    n_blocks: int | None,
) -> list:
    """The band-key expressions shared by the self-dedup
    (simhash_pairs) and the incremental corpus join (simhash_join):
    simple pigeonhole bands by default, Manku block-combination keys
    when ``n_blocks`` is set — see simhash_pairs' docstring for the
    scheme and the collision math. Rejects degenerate shapes: too few
    bands for the radius, zero-width bands (every key collapses to 0
    — the all-pairs cross join this blocking exists to eliminate,
    ADVICE r7), and combination keys wider than a long."""
    h = max_hamming
    if n_blocks is not None:
        from itertools import combinations

        b = n_blocks
        if b < h + 2:
            raise ValueError(
                f"n_blocks={b} needs >= max_hamming + 2 = {h + 2} "
                f"(at b = h + 1 use simple banding: identical keys, "
                f"fewer probe rows)"
            )
        if bits // b == 0:
            raise ValueError(f"n_blocks={b} > bits={bits}: zero-width blocks")
        w = bits // b
        widths = [w + (bits - b * w if k == b - 1 else 0) for k in range(b)]
        offs = [w * k for k in range(b)]
        key_bits = sorted(widths, reverse=True)[: b - h]
        if sum(key_bits) > 63:
            raise ValueError(
                f"combination key would need {sum(key_bits)} bits (> 63): "
                f"lower bits or raise n_blocks"
            )
        keys = []
        for subset in combinations(range(b), b - h):
            shift, parts = 0, []
            for k in subset:
                parts.append(
                    f"(((simhash >> {offs[k]}) & {(1 << widths[k]) - 1}) "
                    f"<< {shift})"
                )
                shift += widths[k]
            keys.append(F.expr(" | ".join(parts)))
        return keys
    nb = n_bands if n_bands is not None else h + 1
    if nb < h + 1:
        raise ValueError(
            f"n_bands={nb} cannot cover hamming <= {h} "
            f"(pigeonhole needs >= {h + 1})"
        )
    if bits // nb == 0:
        raise ValueError(f"n_bands={nb} > bits={bits}: zero-width bands")
    w = bits // nb
    widths = [w + (bits - nb * w if k == nb - 1 else 0) for k in range(nb)]
    return [
        F.expr(f"(simhash >> {w * k}) & {(1 << widths[k]) - 1}")
        for k in range(nb)
    ]


def simhash_collision_estimate(
    n_docs: int, bits: int, n_blocks: int, max_hamming: int = 3
) -> float:
    """EXACT expected random-collision pairs for combination banding:
    docs^2/2 * sum over the C(b, b-h) subset keys of 2^-width(subset).
    Round 10 fix: the old estimate applied the WIDEST subset's width
    to every key, which is optimistic whenever bits % b != 0 (the
    last block is wider than the rest) — at 1e9 docs / 48 bits it
    called b=9 'feasible' at ~4.9e9 pairs while the exact sum is
    ~1.6e10 (the narrow all-small-block subsets dominate collisions).
    Widths differ only between the last block and the rest, so the
    sum groups by whether the subset contains the last block instead
    of enumerating subsets."""
    from math import comb

    h, b = max_hamming, n_blocks
    w = bits // b
    lastw = w + (bits - b * w)
    k = b - h  # blocks per subset key
    with_last = comb(b - 1, k - 1) / (1 << min(lastw + w * (k - 1), 63))
    without_last = comb(b - 1, k) / (1 << min(w * k, 63))
    return n_docs * n_docs / 2 * (with_last + without_last)


def choose_simhash_banding(
    n_docs: int,
    bits: int = 48,
    max_hamming: int = 3,
    simple_max_docs: int = 10_000_000,
    pairs_per_doc: float = 10.0,
    max_keys_per_doc: int = 64,
) -> dict:
    """The banding decision rule (VERDICT r8 task 5): given a corpus
    doc count, return the ``{"n_bands": ..., "n_blocks": ...}`` kwargs
    whose plan survives that scale, so callers no longer need to know
    that >= 1e8 docs requires combination banding.

    Rule (contract = the SCALE.md round-8/9/10 collision table):

    - ``n_docs < simple_max_docs`` (1e7, the measured crossover —
      below it simple banding's (h+1)-rows/doc probe side beats
      combination's C(b,h), and the docs^2*(h+1)/2^(bits/(h+1))
      random term is still small): simple pigeonhole bands.
    - else: combination banding with the SMALLEST feasible block
      count b (fewest probe keys) whose EXACT expected
      random-collision pairs (:func:`simhash_collision_estimate` —
      per-subset width sum, round-10 fix) stay within
      ``pairs_per_doc`` * docs — i.e. the candidate stream stays
      LINEAR in the corpus — AND whose probe amplification
      C(b, max_hamming) stays within ``max_keys_per_doc`` (round 10:
      without this cap the rule would accept e.g. b=11 at 48 bits /
      1e9 docs, whose 165 keys/doc make the posting table 165x the
      corpus — collision-linear but probe-quadratic in disguise).
      The widest subset key must also fit a long (<= 63 bits,
      matching _simhash_band_exprs' guard).
    - if NO feasible b exists at these bits (e.g. 1e9 docs at 48
      bits: the best capped plan, b=8, still expects ~2.6e10 random
      pairs), return the argmin-collision capped b anyway — the best
      this fingerprint width can do — so the caller gets the
      survivable-est plan; the fix at that scale is wider
      fingerprints (bits=64, where b=6 holds 1e9 docs to ~5.0e9
      random pairs at 20 keys/doc). The 64-bit path is implemented
      and certified end-to-end (round 10: dedup_simhash64 registry
      row + boundary tests), and this function selects b=6 for it —
      pinned in tests/test_round10_plans.py.
    """
    h = max_hamming
    if n_docs < simple_max_docs:
        return {"n_bands": None, "n_blocks": None}

    from math import comb

    def keybits(b: int) -> int:
        w = bits // b
        widths = [w + (bits - b * w if k == b - 1 else 0) for k in range(b)]
        return sum(sorted(widths, reverse=True)[: b - h])

    best, best_pairs = None, None
    for b in range(h + 2, bits + 1):
        if bits // b == 0 or keybits(b) > 63:
            continue
        if comb(b, h) > max_keys_per_doc:
            continue
        est = simhash_collision_estimate(n_docs, bits, b, h)
        if est <= pairs_per_doc * n_docs:
            return {"n_bands": None, "n_blocks": b}
        if best_pairs is None or est < best_pairs:
            best, best_pairs = b, est
    return {"n_bands": None, "n_blocks": best}


def simhash_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 3,
    bits: int = 48,
    n: int = 2,
    n_bands: int | None = None,
    n_blocks: int | None = None,
    cache: bool = True,
    n_docs: int | None = None,
) -> DataFrame:
    """Near-dup pairs by SimHash hamming distance, band blocked.

    BANDING AUTO-SELECT (round 9): with neither ``n_bands`` nor
    ``n_blocks`` given, the banding scheme is chosen by
    :func:`choose_simhash_banding` from the corpus doc count
    (``n_docs``, counted with one column-pruned job when not passed —
    parquet-metadata cheap), so the DEFAULT plan is the survivable
    one at every scale: simple banding below the measured 1e7-doc
    crossover, block-combination keys above it. Passing either knob
    pins the scheme explicitly (the certified registry rows do).

    SIMPLE banding: hashes within hamming <= (n_bands - 1)
    share at least one band (pigeonhole), so ``n_bands`` defaults to
    the MINIMAL lossless count, max_hamming + 1 — at 48 bits /
    hamming 3 that is 4 bands of 12 bits, a 4096-value key space per
    band. Band width is the collision-rate knob (round 7): the old
    fixed 8-bit bands gave a 256-value key space whose random
    collisions grow as docs^2 x bands / 2^width — measured OOM at the
    100x checkpoint from billions of candidate pairs.

    COMBINATION banding (``n_blocks``, round 8 — Manku, Jain &
    Sarma's block-permutation scheme from the simhash dedup paper,
    WWW'07, re-expressed as block-subset keys): split the fingerprint
    into b = n_blocks > max_hamming + 1 blocks and emit one join key
    per (b - max_hamming)-subset of blocks, the CONCATENATION of that
    subset's block values. Lossless at the same radius: <= max_hamming
    differing bits touch <= max_hamming blocks, so some
    (b - max_hamming)-subset is entirely agreement (pigeonhole over
    block subsets) and that subset's key matches. The key widens from
    bits/b to bits*(b-h)/b, so the random-collision term drops from
    docs^2 * (h+1) / 2^(bits/(h+1)) to
    docs^2 * C(b,h) / 2^(bits*(b-h)/b) — at 48 bits / h=3 / b=6 that
    is docs^2 * 20 / 2^24 vs docs^2 * 4 / 2^12, ~820x fewer random
    candidates for 5x the probe rows. This is the >= 1e8-doc regime's
    plan (the true 100 TB document count), where simple banding's
    docs^2/2^12 term re-OOMs; simple banding stays the default because
    below ~1e7 docs its 4-rows/doc probe side is cheaper than
    combination's 20 (measured: see SCALE.md round 8). Output is
    IDENTICAL either way (equality tested): hamming verification runs
    BEFORE the pair distinct in both modes, so the distinct shuffle
    carries only true near-dup pairs, never the candidate stream.

    Cache contract — ``cache`` (default True): the fingerprint frame
    stays persisted for the session — it is the SimHash index the
    band join consumes twice (probe + index side), re-served by the
    cache manager to identical plans, and the registry/bench warm
    runs measure exactly that reuse. Measured
    cold (cache cleared, best-of-2): 100x = 5.3 s cached vs 7.8 s
    uncached (the Arrow fingerprint UDF runs twice without it);
    sf0.1 = 1.4 vs 1.5 s. ``cache=False`` for one-shot 100 TB runs
    where a corpus-sized session cache is pure memory pressure and
    each side recomputes from the scan (VERDICT r7 task 4 — mirrors
    ngram_jaccard_pairs' ``cache_prefix``)."""
    if n_bands is None and n_blocks is None:
        if n_docs is None:
            n_docs = df.select(id_col).count()
        chosen = choose_simhash_banding(n_docs, bits, max_hamming)
        n_bands, n_blocks = chosen["n_bands"], chosen["n_blocks"]
    band_exprs = _simhash_band_exprs(max_hamming, bits, n_bands, n_blocks)
    sh = simhash_fingerprints(df, id_col, text_col, bits, n)
    if cache:
        sh = sh.persist(StorageLevel.MEMORY_AND_DISK)
    banded = sh.select(
        "id",
        "simhash",
        F.posexplode(F.array(*band_exprs)).alias("band_id", "band_key"),
    )
    rhs = banded.select(
        "band_id",
        "band_key",
        F.col("id").alias("id2"),
        F.col("simhash").alias("simhash2"),
    )
    # shuffle_hash hint: the band frame is CORPUS-proportional (docs
    # x bands) but the static planner sizes it at the pre-explode
    # scan and broadcast it whole (round-7 broadcast audit) — the
    # containment OOM class at 100 TB. shuffle_hash rather than
    # merge: the band key space is small relative to the rows, and
    # sort-merge over few huge key groups thrashed the heap with
    # sort read-ahead buffers (measured at the 100x checkpoint),
    # while a per-partition hash build of the slim band rows is
    # bounded and AQE can still skew-split it.
    return (
        banded.join(rhs.hint("shuffle_hash"), ["band_id", "band_key"])
        .filter(F.col("id") < F.col("id2"))
        .withColumn(
            "hamming", F.bit_count(F.col("simhash").bitwiseXOR(F.col("simhash2")))
        )
        .filter(F.col("hamming") <= max_hamming)
        .select("id", "id2", "hamming")
        .dropDuplicates(["id", "id2"])
        .select(
            F.col("id").alias("doc_id_1"),
            F.col("id2").alias("doc_id_2"),
            "hamming",
        )
    )


def simhash_index_build(
    df: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = 48,
    n: int = 2,
    mode: str = "overwrite",
) -> None:
    """Persist the corpus SimHash index (mirrors
    containment_index_build / substring_index_build): ONE parquet
    frame of (id, simhash) fingerprints under ``path``. Built once by
    a scheduled job with the default ``mode="overwrite"``; per-ingest
    maintenance is ``mode="append"`` with the served batch (ADVICE
    r8 — the lifecycle the docstring promised now has an API,
    mirroring substring_index_update's contract, including its
    EXACTLY-ONCE caveat: a retried append leaves duplicate (id,
    simhash) rows, which the serve's final dropDuplicates masks for
    pair OUTPUT but still pays as doubled posting rows — drive
    appends from exactly-once orchestration). :func:`simhash_join`
    serves batches against the index without re-fingerprinting the
    corpus. The band keys are pure bit arithmetic over the stored
    fingerprint, so the index is valid for ANY later (n_bands,
    n_blocks, max_hamming <= banding radius) choice — banding is a
    query-time decision, not a build-time one."""
    simhash_fingerprints(df, id_col, text_col, bits, n).write.mode(
        mode
    ).parquet(path)


def simhash_join(
    corpus,
    batch: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
    bits: int = 48,
    n: int = 2,
    n_bands: int | None = None,
    n_blocks: int | None = None,
    corpus_is_index: bool = False,
    n_docs: int | None = None,
) -> DataFrame:
    """INCREMENTAL SimHash dedup: all pairs of the full self-run
    (:func:`simhash_pairs`) where at least one side is a BATCH doc —
    corpus-corpus pairs never join (they were reported when the
    corpus was ingested). Doc ids must be disjoint across corpus and
    batch. The steady-state shape for a growing corpus, completing
    the incremental family (minhash_lsh_join,
    duplicate_substring_chains_incremental,
    containment_pairs_incremental).

    Plan: fingerprints for both sides (``corpus_is_index=True`` reads
    the corpus side from a :func:`simhash_index_build` parquet path
    instead of re-hashing the text) -> band-explode BOTH sides with
    the same key expressions (simple pigeonhole bands, or Manku
    block-combination keys via ``n_blocks``) -> equi-join the BATCH
    probe side against corpus+batch postings on (band_id, band_key).
    Lossless: any pair within the hamming radius shares a band
    (pigeonhole), and every qualifying pair has a batch member to
    probe from. Batch-batch pairs are kept once via id order;
    batch-corpus pairs survive whichever side is smaller because the
    emitted pair is (least, greatest). Hamming verification runs
    BEFORE the pair distinct, exactly like the self-dedup, so the
    distinct shuffle carries only true near-dups.

    Scale: probe rows = |batch| x keys; the posting side is
    corpus-proportional but slim (id, simhash, key) and shuffle_hash-
    hinted for the same reason as simhash_pairs (the static planner
    sizes the post-explode frame at the pre-explode scan — the
    broadcast-audit OOM class). Candidate cost tracks
    |batch| x keys + true collisions, never |corpus|^2.

    Returns (doc_id_1, doc_id_2, hamming) with doc_id_1 < doc_id_2 —
    identical to the full self-run restricted to batch-touching
    pairs (equality tested).

    Banding auto-select (round 9): with neither ``n_bands`` nor
    ``n_blocks`` given, the scheme is chosen by
    :func:`choose_simhash_banding` from the POSTING-side doc count
    (corpus + batch — that is the frame whose random band collisions
    scale) — index mode counts the parquet (metadata-cheap), else one
    column-pruned count per side; pass ``n_docs`` to skip the jobs or
    either knob to pin the scheme."""
    if corpus_is_index:
        sh_c = batch.sparkSession.read.parquet(corpus)
    else:
        sh_c = simhash_fingerprints(corpus, id_col, text_col, bits, n)
    sh_b = simhash_fingerprints(batch, id_col, text_col, bits, n)
    if n_bands is None and n_blocks is None:
        if n_docs is None:
            n_docs = (
                sh_c.select("id").count()
                if corpus_is_index
                else corpus.select(id_col).count()
            ) + batch.select(id_col).count()
        chosen = choose_simhash_banding(n_docs, bits, max_hamming)
        n_bands, n_blocks = chosen["n_bands"], chosen["n_blocks"]
    band_exprs = _simhash_band_exprs(max_hamming, bits, n_bands, n_blocks)

    def banded(sh: DataFrame, mark: int) -> DataFrame:
        return sh.select(
            "id",
            "simhash",
            F.lit(mark).alias("is_b"),
            F.posexplode(F.array(*band_exprs)).alias("band_id", "band_key"),
        )

    probe = banded(sh_b, 1)
    postings = banded(sh_c, 0).unionByName(probe).select(
        "band_id",
        "band_key",
        F.col("id").alias("id2"),
        F.col("simhash").alias("simhash2"),
        F.col("is_b").alias("is_b2"),
    )
    return (
        probe.join(postings.hint("shuffle_hash"), ["band_id", "band_key"])
        # batch-batch pairs once (id < id2); batch-corpus pairs always
        # (the corpus side never probes, so no double counting)
        .filter(
            ((F.col("is_b2") == 1) & (F.col("id") < F.col("id2")))
            | (F.col("is_b2") == 0)
        )
        .withColumn(
            "hamming", F.bit_count(F.col("simhash").bitwiseXOR(F.col("simhash2")))
        )
        .filter(F.col("hamming") <= max_hamming)
        .select(
            F.least("id", "id2").alias("doc_id_1"),
            F.greatest("id", "id2").alias("doc_id_2"),
            "hamming",
        )
        .dropDuplicates(["doc_id_1", "doc_id_2"])
    )


def _collapse_identical(base: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(reps, members) for exact-signature group collapse: documents
    with IDENTICAL shingle sets form one group keyed by
    (xxhash64(sh), size(sh)); ``reps`` carries one (sh, bands) row per
    group, ``members`` maps group -> doc ids.  ``sh`` is np.unique
    output (sorted, deduped), so equal sets hash equal — and equal
    sets imply equal minhash signatures and band keys, so a group is
    interchangeable with any of its members for both candidate
    generation and Jaccard verification.  A 64-bit hash collision
    between two different same-size sets would merge two groups
    (probability ~ groups^2 / 2^64 — negligible even at 10^9 groups).
    """
    g = base.select(
        F.xxhash64("sh").alias("ghash"),
        F.size("sh").alias("gsz"),
        "id",
        "sh",
        "bands",
    )
    reps = g.groupBy("ghash", "gsz").agg(
        F.first("sh").alias("sh"), F.first("bands").alias("bands")
    )
    return reps, g.select("ghash", "gsz", "id")


def minhash_lsh_join(
    corpus: DataFrame,
    batch: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 2,
    threshold: float = 0.5,
) -> DataFrame:
    """INCREMENTAL dedup: find batch documents that near-duplicate an
    already-ingested corpus, without re-pairing the corpus against
    itself.

    This is the production shape for a growing 100 TB corpus: the
    corpus side's (id, shingles, band-keys) frame is the persisted
    dedup INDEX (write it once, append per ingest); each new batch
    only computes its own signatures and band-joins against the index.
    Candidate cost scales with |batch| x bands (plus true collisions),
    never |corpus|^2 — the self-dedup (minhash_lsh_pairs) is the
    bootstrap, this is the steady state.

    Plan: signatures for both sides -> collapse identical shingle
    sets to one representative per side (_collapse_identical) ->
    posexplode the reps' band keys -> batch-to-corpus equi-join on
    (band_id, band_key) -> distinct group pairs -> verify exact
    Jaccard >= threshold on the reps -> expand matched group pairs
    back to doc pairs.  The collapse IS the hot-band guard for this
    path: degenerate bands come from boilerplate/identical documents
    sharing one signature, and collapsing them bounds every band
    bucket by the number of DISTINCT signatures it holds — an
    all-identical million-doc corpus costs ONE candidate pair plus
    the (irreducible, output-sized) final expansion.  Residual hot
    bands are distinct near-identical signatures, whose candidate
    count is output-bound by the LSH collision contract; the band
    join itself is a plain shuffle hash join with no collect_list, so
    per-task memory is bounded regardless.  Lossless: identical sets
    have identical bands and identical Jaccard against anything, so
    the output SET equals the uncollapsed plan's
    (test_minhash_lsh_join_collapse_is_lossless).

    Returns (batch_doc_id, corpus_doc_id, jaccard).
    """
    ver, b_mem, c_mem = _lsh_join_frames(corpus, batch, id_col, text_col, n, threshold)
    # shuffle_hash hint on the CORPUS member map only (round 13, was
    # merge — same protection): it is corpus-proportional, and the
    # static planner would broadcast it on its bogus post-UDF size
    # estimate (round-7 broadcast audit); hash-building it per
    # partition skips the sort-merge sorts. The batch side is bounded
    # by construction and may broadcast freely
    return (
        ver.join(b_mem.select(F.col("ghash").alias("bgh"), F.col("gsz").alias("bgs"),
                              F.col("id").alias("bid")), ["bgh", "bgs"])
        .join(c_mem.select(F.col("ghash").alias("cgh"), F.col("gsz").alias("cgs"),
                           F.col("id").alias("cid")).hint("shuffle_hash"), ["cgh", "cgs"])
        .select(
            F.col("bid").alias("batch_doc_id"),
            F.col("cid").alias("corpus_doc_id"),
            "jaccard",
        )
    )


def _lsh_join_frames(
    corpus: DataFrame,
    batch: DataFrame,
    id_col: str,
    text_col: str,
    n: int,
    threshold: float,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Shared core of minhash_lsh_join and its accounting: returns
    (verified group pairs, batch members, corpus members).  The
    signature frames stay persisted across calls — at steady state the
    corpus side is the reusable dedup index, and Spark's cache manager
    re-serves it to identical plans (the bench's warm-run numbers
    measure exactly that reuse)."""
    c_base = _shingle_band_frame(corpus, id_col, text_col, n).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    b_base = _shingle_band_frame(batch, id_col, text_col, n).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    c_reps, c_mem = _collapse_identical(c_base)
    b_reps, b_mem = _collapse_identical(b_base)
    c_banded = c_reps.select(
        F.col("ghash").alias("cgh"), F.col("gsz").alias("cgs"),
        F.posexplode("bands").alias("band_id", "band_key"),
    )
    b_banded = b_reps.select(
        F.col("ghash").alias("bgh"), F.col("gsz").alias("bgs"),
        F.posexplode("bands").alias("band_id", "band_key"),
    )
    # shuffle_hash hints on the CORPUS-side frames (round 13, was
    # merge — band index, rep shingle arrays): both are corpus-
    # proportional, and the static planner sizes them at the
    # pre-explode/post-UDF estimate and would broadcast them whole
    # (round-7 broadcast audit); hashed shuffle joins keep that
    # protection without sorting either side — the batch side is
    # bounded by construction and stays broadcastable
    cand = (
        b_banded.join(c_banded.hint("shuffle_hash"), ["band_id", "band_key"])
        .select("bgh", "bgs", "cgh", "cgs")
        .distinct()
    )
    b_sh = b_reps.select(
        F.col("ghash").alias("bgh"), F.col("gsz").alias("bgs"), F.col("sh").alias("bsh")
    )
    c_sh = c_reps.select(
        F.col("ghash").alias("cgh"), F.col("gsz").alias("cgs"), F.col("sh").alias("csh")
    )
    ver = (
        cand.join(b_sh, ["bgh", "bgs"])
        .join(c_sh.hint("shuffle_hash"), ["cgh", "cgs"])
        .withColumn("jaccard", _jaccard("bsh", "csh"))
        .filter(F.col("jaccard") >= threshold)
        .select("bgh", "bgs", "cgh", "cgs", "jaccard")
    )
    return ver, b_mem, c_mem


def minhash_lsh_join_accounting(
    corpus: DataFrame,
    batch: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 2,
    threshold: float = 0.5,
) -> dict[str, int]:
    """Candidate-vs-survivor accounting for the incremental LSH join,
    at GROUP granularity (where the work happens) plus the final
    doc-pair output size.  Lets a bench scale audit attribute
    wall-clock growth to candidate density / true-collision output
    rather than guessing at a plan regression."""
    ver, b_mem, c_mem = _lsh_join_frames(corpus, batch, id_col, text_col, n, threshold)
    verp = ver.persist(StorageLevel.MEMORY_AND_DISK)
    try:
        survivors = verp.count()
        out_pairs = (
            verp.join(b_mem.select(F.col("ghash").alias("bgh"), F.col("gsz").alias("bgs"),
                                   F.col("id").alias("bid")), ["bgh", "bgs"])
            .join(c_mem.select(F.col("ghash").alias("cgh"), F.col("gsz").alias("cgs"),
                               F.col("id").alias("cid")).hint("shuffle_hash"), ["cgh", "cgs"])
            .count()
        )
    finally:
        verp.unpersist()
    # candidates re-derives the pre-verification distinct group pairs
    c_reps, _ = _collapse_identical(
        _shingle_band_frame(corpus, id_col, text_col, n)
    )
    b_reps, _ = _collapse_identical(
        _shingle_band_frame(batch, id_col, text_col, n)
    )
    c_banded = c_reps.select(
        F.col("ghash").alias("cgh"), F.col("gsz").alias("cgs"),
        F.posexplode("bands").alias("band_id", "band_key"),
    )
    b_banded = b_reps.select(
        F.col("ghash").alias("bgh"), F.col("gsz").alias("bgs"),
        F.posexplode("bands").alias("band_id", "band_key"),
    )
    candidates = (
        b_banded.join(c_banded.hint("shuffle_hash"), ["band_id", "band_key"])
        .select("bgh", "bgs", "cgh", "cgs")
        .distinct()
        .count()
    )
    groups = {
        "batch_groups": b_reps.count(),
        "corpus_groups": c_reps.count(),
    }
    return {
        "candidates": candidates,
        "survivors": survivors,
        "out_pairs": out_pairs,
        **groups,
    }


def containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.6,
    prefix_extension: int = 2,
) -> DataFrame:
    """Asymmetric shingle CONTAINMENT dedup: pairs (a, b) where at
    least ``threshold`` of a's distinct word-n-gram shingles also
    appear in b — the quote/sub-document/boilerplate-wrapper relation
    that symmetric Jaccard misses (a short doc fully quoted inside a
    long one has tiny Jaccard but containment 1.0).

    Candidate generation is the overlap-constraint prefix filter:
    overlap(a,b) >= t*|a| forces at least one shared shingle into a's
    ``floor((1-t)*|a|) + 1`` globally-RAREST shingles (a's non-prefix
    part holds < t*|a| shingles), so probing ONLY those rare shingles
    against the full inverted index is lossless — and rare probes hit
    few index postings, which is what bounds candidates at corpus
    scale (same family as the PPJoin filter in ngram_jaccard_pairs,
    one-sided because containment is one-sided). Round 7 adds the
    PPJoin+ POSITIONAL filters (see ``_containment_frames``): both
    join sides carry each token's rank in the shared global
    (frequency, token) order, and per-row prunes on those ranks —
    first-common-token window on b plus the positional overlap upper
    bound — drop candidate rows that provably cannot reach
    ``ceil(t*|a|)`` overlap, before the distinct and the two
    array-carrying verification joins. Verification is an exact
    array_intersect on the two (already distinct) shingle arrays,
    joined per candidate pair.

    Shuffles: shingle index build + frequency join + probe join +
    two verification joins, all on keys; no all-pairs path at any
    block size. The index side now reads the ranked-token frame
    (frequency join + per-doc window) instead of the raw token
    frame; the exchange feeding the rank window is shared with the
    probe side and deduplicated by exchange reuse.

    Cache contract: nothing is persisted. ``shingled`` is consumed
    four times within the ONE plan this function returns (probe-side
    ranks, index-side ranks, two verification sides), but it is a
    stateless Arrow projection (split -> shingle -> hash) whose
    recompute costs scans, not shuffles. (Round 6 claimed Spark's
    exchange reuse deduplicates the downstream shuffles; round 7
    could NOT observe ReusedExchange in Spark 4.1 adaptive plans, so
    the honest justification is the measurement: 17.5 s at the 100x
    checkpoint WITH the recompute, 2.5x faster than round 6's
    partially-cached shape.) Round 5 persisted it MEMORY_AND_DISK
    with no unpersist, which accumulated a corpus-sized cache per
    registry invocation for the life of the session (ADVICE r5); an
    in-function eager unpersist is no better, as it would shift the
    work into plan construction and out of any caller's measurement
    window.
    """
    _, verified = _containment_frames(
        df, id_col, text_col, n, threshold, prefix_extension
    )
    return verified.select(
        F.col("a").alias("doc_id_a"),
        F.col("b").alias("doc_id_b"),
        "overlap",
        "size_a",
        F.round("containment", 6).alias("containment"),
    )


def containment_accounting(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.6,
    prefix_extension: int = 2,
) -> dict:
    """Candidates (post rare-prefix probe, pre verification) vs
    survivors for :func:`containment_pairs` — the number SCALE.md
    tracks so candidate-set growth can be measured, not argued.

    ``cand`` is persisted for the duration of this accounting-only
    call (and unpersisted before returning): ``verified`` recomputes
    the whole candidate subtree otherwise — Spark's CacheManager
    substitutes the cached subtree into verified's plan — so both
    counts cost ONE candidate-generation pass instead of two
    (ADVICE r6).
    """
    cand, verified = _containment_frames(
        df, id_col, text_col, n, threshold, prefix_extension
    )
    cand = cand.persist(StorageLevel.MEMORY_AND_DISK)
    try:
        return {"candidates": cand.count(), "survivors": verified.count()}
    finally:
        cand.unpersist()


def _containment_frames(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int,
    threshold: float,
    prefix_extension: int = 2,
) -> tuple[DataFrame, DataFrame]:
    """(candidate pairs, verified pairs) shared by containment_pairs
    and containment_accounting."""
    shingled = (
        with_shingle_hashes(df, id_col, text_col, n)
        .filter(F.size("sh") > 0)
    )
    freq, ranked = _ranked_tokens(shingled)
    # a's MINIMAL prefix bound is exactly P = |a| - R + 1 where
    # R = ceil(t*|a|) (floor((1-t)*sz)+1 == sz - ceil(t*sz) + 1): the
    # deepest rank the FIRST common token c1 (minimum shared token in
    # the global order) can sit at when >= R tokens are shared. The
    # ADAPTIVE extension probes d extra prefix tokens and demands
    # min(1+d, R) shared prefix tokens per pair instead of 1
    # (pigeonhole: common tokens outside a's first min(P+d, |a|)
    # ranks number <= |a| - P - d = R - 1 - d, so common tokens
    # INSIDE it number >= R - (R-1-d) = 1+d, clamped by R for tiny
    # docs) — random single-collision pairs, the bulk of all
    # candidates, die in the count filter instead of reaching
    # verification, for a probe-row increase of only d rows per doc.
    d = int(prefix_extension)
    probes = _containment_probes(ranked, threshold, d)
    index = ranked.select(
        F.col("id").alias("b"),
        F.col("sz").alias("szb"),
        F.col("rk").alias("rkb"),
        "t",
    )
    cand = _containment_candidates(probes, index, threshold, d)
    verified = _containment_verify(cand, shingled, threshold)
    return cand, verified


def _ranked_tokens(
    shingled: DataFrame, extra: tuple[str, ...] = ()
) -> tuple[DataFrame, DataFrame]:
    """(freq, ranked): the exploded token frame joined with global
    doc-frequencies and ranked per doc; ``extra`` columns (per-doc
    markers) ride along untouched.

    (df_t asc, t asc) is a GLOBAL total order over tokens (df_t is a
    property of t alone), so every doc's shingles are ranked by the
    same ordering — the precondition for the positional filters.

    Merge hint on the frequency join (and on every other internal
    containment join): Catalyst's size estimate for a post-explode
    frame is the PRE-explode scan size, so the static planner happily
    broadcasts the full token index / the candidate set — which at
    the 100x checkpoint overflows the driver build (observed) and at
    100 TB is nonsense. None of these frames is a small dim at scale;
    shuffle joins are the only plan that survives, and AQE still
    skew-splits them.
    """
    tok = shingled.select(
        "id", *extra, F.size("sh").alias("sz"), F.explode("sh").alias("t")
    )
    freq = tok.groupBy("t").agg(F.count("*").alias("df_t"))
    w = Window.partitionBy("id").orderBy(F.col("df_t").asc(), F.col("t").asc())
    # shuffle_hash (round 13, was merge — same static-broadcast
    # protection, see _containment_verify): hash-building the slim
    # (t, df_t) vocabulary side streams the 50M-row token frame with
    # no t-sort; the window's own (id, df_t, t) sort is the one sort
    # this ranking fundamentally needs
    ranked = (
        tok.join(freq.hint("shuffle_hash"), "t")
        .withColumn("rk", F.row_number().over(w))
    )
    return freq, ranked


def _containment_probes(ranked: DataFrame, threshold: float, d: int) -> DataFrame:
    """a-side probe rows: each doc's first P + d ranks under the
    shared global token order (P = |a| - ceil(t*|a|) + 1, the minimal
    lossless prefix)."""
    p, q = _tq(threshold)
    return ranked.filter(
        F.col("rk") <= F.expr(f"(({q - p}L * sz) div {q}L) + {1 + d}L")
    ).select(
        F.col("id").alias("a"),
        F.col("sz").alias("sza"),
        F.col("rk").alias("rka"),
        "t",
    )


def _containment_candidates(
    probes: DataFrame, index: DataFrame, threshold: float, d: int
) -> DataFrame:
    """Candidate (a, b) pairs from a probe-rows x index-postings join.

    R = ceil(t*|a|), the overlap a verifying pair MUST reach; a
    verifying pair must produce at least ``need`` = min(1+d, R)
    surviving probe rows. Lossless per-row prunes (PPJoin+ family,
    one-sided because containment is one-sided) — each is valid for
    the j-th smallest common token, j <= need:

    1. SIZE: overlap <= |b|, so |b| < R can never verify.
    2. B-PREFIX (j-th-common-token window): the j-th smallest common
       token c_j has >= R - j + 1 shared tokens at-or-after it in b's
       ranking, so rk_b(c_j) <= |b| - R + j <= |b| - R + need.
    3. POSITIONAL UBOUND: for ANY shared token t, common tokens split
       into those before t in BOTH rankings (<= min(rk_a, rk_b)-1,
       same global order) and those at/after
       (<= 1 + min(|a|-rk_a, |b|-rk_b)), so the sum bounds the
       overlap; rows whose bound < R cannot belong to a verifying
       pair.

    Correctness requires only that probe and index ranks come from
    the SAME total order over tokens — the frequency-ascending choice
    is the performance heuristic (short posting lists), not a
    correctness condition (the incremental serve path leans on this:
    it ranks batch docs under the index's FROZEN build-time order).
    """
    p, q = _tq(threshold)
    req = F.expr(f"({p}L * sza + {q - 1}L) div {q}L")
    need = F.least(F.lit(1 + d).cast("long"), req)
    ubound = (
        F.least(F.col("rka"), F.col("rkb"))
        + F.least(
            F.col("sza") - F.col("rka"), F.col("szb") - F.col("rkb")
        )
    )
    return (
        # shuffle_hash (round 13, was merge): builds the probe-side
        # prefix rows per partition and streams the corpus postings
        # with no t-sorts on either 10^7-row frame; same broadcast
        # protection as merge (see _containment_verify)
        probes.hint("shuffle_hash").join(index, "t")
        .filter(
            (F.col("a") != F.col("b"))
            & (F.col("szb") >= req)
            & (F.col("rkb") <= F.col("szb") - req + need)
            & (ubound >= req)
        )
        # same shuffle the old .distinct() paid, but the count filter
        # rides it for free: pairs with fewer than `need` shared
        # extended-prefix tokens provably cannot verify
        .groupBy("a", "sza", "b")
        .agg(F.count("*").alias("m"))
        .filter(
            F.col("m")
            >= F.least(
                F.lit(1 + d).cast("long"),
                F.expr(f"({p}L * sza + {q - 1}L) div {q}L"),
            )
        )
        .select("a", "b")
    )


def _containment_verify(
    cand: DataFrame, shingled: DataFrame, threshold: float
) -> DataFrame:
    """Exact verification: array_intersect on the two distinct shingle
    arrays per candidate pair.

    shuffle_hash (round 13, guide §3.1/§5 — was merge): the
    sort-merge spelling SORTED the array-carrying shingle side (and,
    on the second join, the array-carrying intermediate) — the 3.8 GB
    sort-spill class the 100x episode captures attributed to this
    join (r10-r12). A shuffled hash join builds the per-partition
    hash table from the hinted side and STREAMS the other side with
    no sort at all, so the wide rows are never buffered; per-task
    build memory is bounded by the corpus-shingle bytes per partition
    (AQE-sized), and the hint still pins the planner away from the
    static-broadcast OOM class exactly like merge did."""
    return (
        cand.join(
            shingled.select(F.col("id").alias("a"), F.col("sh").alias("sha"))
            .hint("shuffle_hash"),
            "a",
        )
        .join(
            shingled.select(F.col("id").alias("b"), F.col("sh").alias("shb"))
            .hint("shuffle_hash"),
            "b",
        )
        .withColumn("overlap", F.size(F.array_intersect("sha", "shb")).cast("long"))
        .withColumn("size_a", F.size("sha").cast("long"))
        .withColumn(
            "containment",
            F.col("overlap").cast("double") / F.col("size_a").cast("double"),
        )
        .filter(F.col("containment") >= threshold)
    )


def containment_index_build(
    df: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
) -> None:
    """Persist the corpus containment-dedup index (mirrors
    substring_index_build): three parquet frames under ``path`` —

    - ``ranked``  (id, sz, t, rk): every corpus token with its rank in
      the (df_t, t) order AT BUILD TIME, written repartitioned by t so
      a serve's probe join reads co-located postings;
    - ``freq``    (t, df_t): the build-time doc-frequency table, used
      to rank BATCH docs under the same frozen order;
    - ``shingles`` (id, sh): the distinct shingle arrays for exact
      verification.

    Built once by a scheduled job at steady state;
    :func:`containment_pairs_incremental` serves batches against it
    without re-shingling or re-ranking the corpus. The frozen order
    is a correctness-safe snapshot (any shared total order works —
    see _containment_candidates); drift from the true frequencies
    only lengthens posting lists, so rebuild on the same cadence as
    other index compaction."""
    spark = df.sparkSession
    shingled = (
        with_shingle_hashes(df, id_col, text_col, n)
        .filter(F.size("sh") > 0)
    )
    # write shingles first, re-read, and derive tokens from the
    # parquet so the text is shingled exactly once for all three
    # artifacts
    shingled.write.mode("overwrite").parquet(f"{path}/shingles")
    sh = spark.read.parquet(f"{path}/shingles")
    freq, ranked = _ranked_tokens(sh)
    ranked.select("id", "sz", "t", "rk").repartition("t").write.mode(
        "overwrite"
    ).parquet(f"{path}/ranked")
    freq.write.mode("overwrite").parquet(f"{path}/freq")


# Auto threshold for containment_pairs_incremental's direction-2
# probe prefilter: ON iff batch docs < this fraction of corpus docs.
# Chosen from the shuffle-volume contract (see the docstring) — the
# sandbox cannot shape a batch whose vocabulary is a small subset of
# the corpus's, so wall-clock alone cannot locate the break-even here.
_PREFILTER_BATCH_RATIO = 0.05


def containment_pairs_incremental(
    corpus,
    batch: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.6,
    prefix_extension: int = 2,
    corpus_is_index: bool = False,
    prefilter_corpus_probes: bool | None = None,
) -> DataFrame:
    """Steady-state ingest spelling of containment dedup: all pairs of
    :func:`containment_pairs` over corpus-union-batch where a or b is
    a BATCH doc — exactly the full self-run restricted to
    batch-touching pairs (corpus-corpus pairs are the ones already
    reported when the corpus was ingested). Doc ids must be disjoint
    across corpus and batch.

    Two probe directions, disjoint by construction (no double
    counting in the per-pair filters): batch docs as ``a`` probed
    against corpus+batch postings, and corpus docs as ``a`` probed
    against batch postings only — never a corpus-corpus join.
    Direction 1 is batch-proportional end to end. Direction 2's raw
    probe frame is CORPUS-proportional (every corpus doc's prefix
    rows — only the join OUTPUT is batch-bounded; ADVICE r7 corrected
    the old docstring's claim here). ``prefilter_corpus_probes=True``
    bounds it: a broadcast left-semi join on the batch's distinct
    token set drops, MAP-SIDE and before the shuffle, every corpus
    probe row whose token has no batch posting (lossless — the inner
    join on ``t`` drops them anyway), so the direction-2 shuffle
    carries only corpus prefix rows sharing a token with the batch.
    The explicit broadcast is safe exactly when the prefilter is
    useful: a batch small relative to the corpus (the steady-state
    ingest contract), whose token set filters most probe rows AND
    fits a broadcast.

    Default AUTO (round 9, VERDICT r8 task 4): ``None`` derives the
    knob from the batch/corpus DOC-COUNT ratio at plan build (one
    column-pruned count per side — parquet-metadata cheap; index
    mode counts the persisted shingle frame): ON iff batch <
    ``_PREFILTER_BATCH_RATIO`` (5%) of the corpus. The row exists to
    certify the TRUE steady state (batch << corpus), where direction
    2 without the prefilter shuffles every corpus doc's prefix rows
    per ingest — a static OFF tuned to the registry's 20%-batch test
    shape was the wrong contract (VERDICT r8). Measured at the 100x
    checkpoint (SCALE.md round 9, index serve, best-of-2, OFF
    vs ON): 20%-batch 9.79 vs 9.92 s; 5%-batch 7.25 vs 7.61 s;
    2%-batch 6.59 vs 6.68 s — a wall-clock break-even is NOT
    observable in this sandbox, because even a 2% batch of the
    synthetic Zipfian corpus still covers most of the TOKEN
    vocabulary, so the semi join filters little and costs its
    build (~1-5% premium). The 5% switch point is therefore chosen
    from the shuffle-volume contract, not a measured crossing:
    direction-2 shuffle rows drop from corpus-proportional to
    matched-token-proportional exactly when the batch vocabulary is
    a small subset of the corpus's — the true steady-state shape —
    and the measured worst-case premium for that unbounded
    protection is the ~5% above (SCALE.md round 9 has the table).
    Pass True/False to pin either behavior (the equality tests pin
    both lossless).

    ``corpus_is_index=True`` treats ``corpus`` as the PATH of a
    :func:`containment_index_build` index: corpus ranks, frequencies,
    and shingle arrays come from parquet and the corpus text is never
    re-shingled; batch docs are ranked under the index's frozen
    build-time token order (df_t of unseen tokens = 0), which keeps
    probe and index ranks in ONE shared total order — the only
    correctness requirement of the candidate filters — so the output
    still equals the full-run restriction exactly (verification is
    exact either way).
    """
    d = int(prefix_extension)
    if prefilter_corpus_probes is None:
        n_batch = batch.select(id_col).count()
        n_corpus = (
            batch.sparkSession.read.parquet(f"{corpus}/shingles")
            .select("id").count()
            if corpus_is_index
            else corpus.select(id_col).count()
        )
        prefilter_corpus_probes = n_batch < _PREFILTER_BATCH_RATIO * n_corpus
    sh_b = (
        with_shingle_hashes(batch, id_col, text_col, n)
        .filter(F.size("sh") > 0)
    )
    if corpus_is_index:
        spark = batch.sparkSession
        ranked_c = spark.read.parquet(f"{corpus}/ranked")
        freq_c = spark.read.parquet(f"{corpus}/freq")
        sh_c = spark.read.parquet(f"{corpus}/shingles")
        tok_b = sh_b.select(
            "id", F.size("sh").alias("sz"), F.explode("sh").alias("t")
        )
        w = Window.partitionBy("id").orderBy(
            F.col("df_t").asc(), F.col("t").asc()
        )
        ranked_b = (
            tok_b.join(freq_c, "t", "left")
            .withColumn("df_t", F.coalesce("df_t", F.lit(0)))
            .withColumn("rk", F.row_number().over(w))
            .select("id", "sz", "t", "rk")
        )
    else:
        sh_c = (
            with_shingle_hashes(corpus, id_col, text_col, n)
            .filter(F.size("sh") > 0)
        )
        # union-wide frequencies: identical ranks to the full run; a
        # rider marker splits the ranked frame back without id joins
        sh_u = sh_c.withColumn("is_b", F.lit(0)).unionByName(
            sh_b.withColumn("is_b", F.lit(1))
        )
        _, ranked_u = _ranked_tokens(sh_u, extra=("is_b",))
        ranked_b = ranked_u.filter(F.col("is_b") == 1).drop("is_b")
        ranked_c = ranked_u.filter(F.col("is_b") == 0).drop("is_b")
    as_index = lambda r: r.select(  # noqa: E731
        F.col("id").alias("b"),
        F.col("sz").alias("szb"),
        F.col("rk").alias("rkb"),
        "t",
    )
    if corpus_is_index:
        ranked_all = ranked_c.select("id", "sz", "t", "rk").unionByName(
            ranked_b.select("id", "sz", "t", "rk")
        )
    else:
        # the union ranked frame IS corpus+batch — reuse it directly
        # instead of unioning two filtered copies of the same subtree
        # (Spark 4.1 shows no exchange reuse across plan copies)
        ranked_all = ranked_u.select("id", "sz", "t", "rk")
    probes_c = _containment_probes(ranked_c, threshold, d)
    if prefilter_corpus_probes:
        batch_tokens = ranked_b.select("t").distinct()
        probes_c = probes_c.join(F.broadcast(batch_tokens), "t", "left_semi")
    cand = _containment_candidates(
        _containment_probes(ranked_b, threshold, d),
        as_index(ranked_all),
        threshold,
        d,
    ).unionByName(
        _containment_candidates(probes_c, as_index(ranked_b), threshold, d)
    )
    verified = _containment_verify(
        cand, sh_c.select("id", "sh").unionByName(sh_b.select("id", "sh")),
        threshold,
    )
    return verified.select(
        F.col("a").alias("doc_id_a"),
        F.col("b").alias("doc_id_b"),
        "overlap",
        "size_a",
        F.round("containment", 6).alias("containment"),
    )
