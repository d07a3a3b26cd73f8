"""Corpus-curation operators for LLM training-data pipelines.

These extend the engine's curation surface (quality gates, dedup,
decontamination — see ``operators/text.py`` / ``operators/dedup.py``)
with four standard large-corpus stages the reference pipeline's
model-quality loop (resources/sagemaker/pipeline-modelbuild-code/
pipelines/blockchain/preprocess.py — select, filter, split) implies
but never needed at its scale:

- ``hashed_quality_classifier`` — fastText-style linear quality model
  with the hashing trick: token -> feature bucket -> fixed weight,
  doc score = sigmoid(mean weight). The model weights here are a
  deterministic pseudo-random table (public constants) so the whole
  classifier is DuckDB-oracle-checkable; swapping in trained weights
  is a broadcast-table change, not a plan change.
- ``dsir_select`` — DSIR-style importance resampling (Xie et al.,
  "Data Selection for Language Models via Importance Resampling"):
  hashed-unigram bag features, importance weight = mean log ratio of
  target-domain vs corpus bucket frequencies, top-k selection.
- ``duplicate_passage_spans`` — exact substring-duplication accounting
  (Lee et al., "Deduplicating Training Data Makes Language Models
  Better"): token n-gram fingerprints occurring more than once in the
  corpus mark duplicated positions; overlapping positions merge into
  maximal spans (gaps-and-islands) and each doc reports its
  duplicated-token fraction.
- ``k_anonymity_report`` — privacy audit over quasi-identifier
  columns: group sizes and the k-anonymity at-risk flag.
- ``semdedup_prune`` — SemDeDup (Abbas et al.): k-means-cluster the
  embedding space, then prune documents whose cosine similarity to an
  earlier cluster-mate exceeds tau. Pairwise work is confined to each
  cluster — the quadratic term is (corpus/k)^2 per cluster, tuned by
  k, never corpus^2.
- ``dataset_card`` — per (source, lang) corpus accounting: docs,
  tokens, exact-dup rate, mean length — the "dataset card" numbers a
  training-data release ships with.

Determinism: token hashing is the engine-wide 31-base fold mod 1e9+7
(functions/hashing.py); float reductions go through DECIMAL casts per
plans/determinism.py; classifier weights are integer arithmetic until
one final division.

Scale notes per operator in the docstrings; nothing here collects to
the driver and nothing is quadratic in the corpus.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions import hashing as H
from ..functions import hashing_pandas as HP

__all__ = [
    "hashed_quality_classifier",
    "dsir_select",
    "duplicate_passage_spans",
    "duplicate_substring_chains",
    "duplicate_substring_chains_incremental",
    "substring_index_build",
    "substring_index_update",
    "duplicate_substring_span_rows",
    "strip_duplicate_spans",
    "cdc_chunk_dedup",
    "k_anonymity_report",
    "semdedup_prune",
    "semdedup_prune_scaled",
    "dataset_card",
    "calibration_ece",
]

# weight-table constants (public, arbitrary): bucket b's weight is
# w(b) = (((b * KNUTH) % WP) % 2001 - 1000) / 1000  in [-1, 1]
KNUTH = 2654435761
WP = 1000003


def _spark_weight_sum(text_col: str, buckets: int) -> str:
    """Integer sum of per-token weights*1000 — stays in codegen."""
    w = f"((((x % {buckets}) * {KNUTH}) % {WP}) % 2001 - 1000)"
    return (
        f"aggregate(transform({H.spark_token_hashes(text_col)}, x -> {w}),"
        f" 0L, (acc, v) -> acc + v)"
    )


def hashed_quality_classifier(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    buckets: int = 256,
    impl: str = "pandas",
) -> DataFrame:
    """fastText-style hashed linear quality classifier.

    Each token hashes to one of ``buckets`` feature buckets; the model
    is a weight per bucket (here a fixed deterministic table in
    [-1, 1] scaled to integers); a doc's raw score is the MEAN token
    weight and the quality probability is sigmoid(raw). ``keep`` is
    probability >= 0.5 (raw >= 0).

    impl="pandas" (default): the per-character hash fold runs
    Arrow-batched in numpy — same int64 math, ~20x the interpreted
    higher-order-function speed (the engine-wide rule for per-char
    hot loops). impl="sql" keeps the expression spelling: the entire
    classifier inside whole-stage codegen with NO shuffle, no Python
    — the oracle-documented reference (bit-equality asserted in
    tests). Both are one map stage over the corpus; trained weights
    would arrive as a broadcast array literal with the same plan.

    raw_score is ONE division of exact integers — bit-identical in
    any engine, so it ships unrounded (rounding would *introduce*
    nondeterminism: the quotient can land exactly on a rounding
    boundary, where engines tie-break differently; seen at sf0.1).
    """
    src = df.filter(F.col(text_col).isNotNull())
    if impl == "sql":
        wsum = F.expr(_spark_weight_sum(text_col, buckets))
        n = F.size(F.expr(H.spark_tokens(text_col)))
    else:
        @F.pandas_udf("struct<ws: long, n: long>")
        def wsn_udf(texts: pd.Series) -> pd.DataFrame:
            hs = texts.map(lambda t: HP.token_hashes(t or ""))
            return pd.DataFrame(
                {
                    "ws": hs.map(
                        lambda h: int(
                            (((h % buckets) * KNUTH) % WP % 2001 - 1000).sum()
                        )
                        if len(h)
                        else 0
                    ),
                    "n": hs.map(len),
                }
            )

        src = src.withColumn("__wsn", wsn_udf(F.col(text_col)))
        wsum = F.col("__wsn.ws")
        n = F.col("__wsn.n")
    raw = wsum.cast("double") / (n.cast("double") * F.lit(1000.0))
    return (
        src.select(
            F.col(id_col),
            n.cast("long").alias("n_tokens"),
            raw.alias("raw_score"),
            F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-raw)), 6).alias("quality_prob"),
            (wsum >= 0).alias("keep"),
        )
        .filter(F.col("n_tokens") > 0)
    )


def _token_hash_arr(text_col: str, impl: str):
    """Column of positional token hashes: Arrow numpy fold (default)
    or the interpreted expression spelling (oracle reference) — same
    int64 values bit for bit."""
    if impl == "sql":
        return F.expr(H.spark_token_hashes(text_col))

    @F.pandas_udf("array<long>")
    def th_udf(texts: pd.Series) -> pd.Series:
        return HP.token_hash_series(texts)

    return th_udf(F.col(text_col))


def dsir_select(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    domain_col: str = "lang",
    target_domain: str = "en",
    buckets: int = 64,
    topk: int = 100,
    impl: str = "pandas",
) -> DataFrame:
    """DSIR-style importance resampling toward a target domain.

    Features are hashed unigram buckets. Bucket b's importance log
    ratio is ``ln((t_b+1)/(T+B)) - ln((r_b+1)/(R+B))`` where t/r are
    target/corpus bucket counts (add-one smoothing). A doc's weight is
    the MEAN log ratio over its tokens (length-normalized, so long
    docs aren't favored); the ``topk`` docs by weight are selected.

    Determinism: the log-ratio doubles are identical in any engine
    (integer inputs, two lns, one subtract); per-doc sums go through
    DECIMAL(38,6) casts so summation order cannot move them.

    Scale: the feature table is ``buckets`` rows — aggregated straight
    off the token stream (map-side combine collapses it to ~cores x
    buckets rows before its shuffle) and broadcast. The (doc, bucket)
    term-frequency frame is built once and consumed once, so nothing
    needs persisting — round 5 cached it MEMORY_AND_DISK with no
    unpersist, leaking a corpus-sized cache per invocation for the
    life of the session (ADVICE r5). The only corpus-sized shuffle is
    the per-doc aggregation. Selection is a TakeOrdered top-k, not a
    global sort.
    """
    toks = df.filter(F.col(text_col).isNotNull()).select(
        F.col(id_col).alias("id"),
        F.col(domain_col).alias("dom"),
        F.explode(_token_hash_arr(text_col, impl)).alias("h"),
    ).withColumn("bucket", F.col("h") % buckets)
    # Bucket table directly from the token stream: r_b = tokens in
    # bucket b, t_b = tokens in b from the target domain. Integer
    # counts, so it equals the old sum-over-tf spelling exactly.
    btbl = toks.groupBy("bucket").agg(
        F.count("*").alias("r"),
        F.sum(
            F.when(F.col("dom") == target_domain, 1).otherwise(0)
        ).alias("t"),
    )
    tf = toks.groupBy("id", "bucket").agg(F.count("*").alias("tf"))
    totals = btbl.agg(F.sum("r").alias("rt"), F.sum("t").alias("tt"))
    lr = F.log((F.col("t") + 1) / (F.col("tt") + buckets)) - F.log(
        (F.col("r") + 1) / (F.col("rt") + buckets)
    )
    btbl = btbl.crossJoin(F.broadcast(totals)).select("bucket", lr.alias("lr"))
    per_doc = (
        tf.join(F.broadcast(btbl), "bucket")
        .groupBy("id")
        .agg(
            F.sum("tf").alias("n_tokens"),
            F.sum((F.col("tf") * F.col("lr")).cast("decimal(38,6)")).alias("w"),
        )
        .select(
            "id",
            F.col("n_tokens").cast("long").alias("n_tokens"),
            # exact decimal -> double cast, then ONE division by an
            # exact integer: bit-identical in any engine, shipped
            # unrounded (rounding integer-ratio quotients is what
            # introduces cross-engine tie-break divergence)
            (F.col("w").cast("double") / F.col("n_tokens")).alias("weight"),
        )
    )
    w = Window.orderBy(F.col("weight").desc(), F.col("id").asc())
    return (
        per_doc.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= topk)
        .select(F.col("id").alias(id_col), "n_tokens", "weight", "rank")
    )


def _shingle_positions(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int,
    impl: str,
    wide: bool = False,
) -> DataFrame:
    """(id, n_tokens, p, fp): the engine-wide shingle fingerprint of
    the token n-gram starting at 1-based token position ``p``. One
    text scan; the hash fold runs whole-batch-vectorized in numpy with
    the frame emitted already exploded (``impl='arrow'`` — the cdc
    template, VERDICT r11 task 3), per-doc Arrow-batched + JVM-side
    posexplode (``impl='pandas'``), or as codegen higher-order
    functions (``impl='sql'``). All three are bit-identical (the
    arrow/pandas parity is pinned in tests/test_round12_plans.py);
    'arrow' additionally skips the posexplode/arrays_zip stage and
    keeps the hot fold out of both interpreted-HOF eval and per-doc
    Python loops.

    ``wide=True`` emits a 90-bit fingerprint as TWO BIGINT columns:
    ``fp`` (the packed 60-bit double fold, functions/hashing.py
    ``*_wide``) plus ``fp3`` (a third independent fold, base 41 mod
    P3). Required when the operator's output is built from
    fingerprint EQUALITY (substring chaining) — a 30-bit space
    fabricates ~N^2/2^31 colliding pairs past ~1e7 positions
    (measured, SCALE.md round 5), and 60 bits saturates the same way
    at the true-100 TB operating point of ~1e12 positions (~4e5
    collisions); at 90 bits the expectation there is ~4e-4. Chain
    consumers key on the PAIR (fp, fp3)."""
    src = df.filter(F.col(text_col).isNotNull())
    if impl == "arrow":
        id_type = df.schema[id_col].dataType.simpleString()
        schema = f"id {id_type}, n_tokens int, p int, fp long" + (
            ", fp3 long" if wide else ""
        )
        narrow = src.select(
            F.col(id_col).alias("id"), F.col(text_col).alias("t")
        )

        def gen(batches):
            for pdf in batches:
                yield HP.shingle_position_rows(pdf["id"], pdf["t"], n, wide)

        return narrow.mapInPandas(gen, schema)
    if impl == "sql":
        if wide:
            base = src.select(
                F.col(id_col).alias("id"),
                F.expr(H.spark_token_hashes(text_col)).alias("h"),
                F.expr(H.spark_token_hashes2(text_col)).alias("h2"),
                F.expr(H.spark_token_hashes3(text_col)).alias("h3"),
            ).withColumn(
                "sh", F.expr(H.spark_shingle_hashes_wide("h", "h2", n))
            ).withColumn("sh3", F.expr(H.spark_shingle_hashes3("h3", n)))
        else:
            base = src.select(
                F.col(id_col).alias("id"),
                F.expr(H.spark_token_hashes(text_col)).alias("h"),
            ).withColumn("sh", F.expr(H.spark_shingle_hashes("h", n)))
    else:
        if wide:
            @F.pandas_udf(
                "struct<h: array<long>, sh: array<long>, sh3: array<long>>"
            )
            def hshw_udf(texts: pd.Series) -> pd.DataFrame:
                hs = texts.map(lambda t: HP.token_hashes(t or ""))
                h2s = texts.map(lambda t: HP.token_hashes2(t or ""))
                h3s = texts.map(lambda t: HP.token_hashes3(t or ""))
                sh = pd.Series(
                    [HP.shingle_hashes_wide(h, h2, n) for h, h2 in zip(hs, h2s)],
                    index=hs.index,
                )
                sh3 = h3s.map(lambda h3: HP.shingle_hashes3(h3, n))
                return pd.DataFrame({"h": hs, "sh": sh, "sh3": sh3})

            base = src.select(
                F.col(id_col).alias("id"), hshw_udf(F.col(text_col)).alias("r")
            ).select(
                "id",
                F.col("r.h").alias("h"),
                F.col("r.sh").alias("sh"),
                F.col("r.sh3").alias("sh3"),
            )
        else:
            @F.pandas_udf("struct<h: array<long>, sh: array<long>>")
            def hsh_udf(texts: pd.Series) -> pd.DataFrame:
                hs = texts.map(lambda t: HP.token_hashes(t or ""))
                sh = hs.map(lambda h: HP.shingle_hashes(h, n))
                return pd.DataFrame({"h": hs, "sh": sh})

            base = src.select(
                F.col(id_col).alias("id"), hsh_udf(F.col(text_col)).alias("r")
            ).select("id", F.col("r.h").alias("h"), F.col("r.sh").alias("sh"))
    if wide:
        return base.select(
            "id",
            F.size("h").alias("n_tokens"),
            F.posexplode(F.arrays_zip("sh", "sh3")).alias("p0", "z"),
        ).select(
            "id",
            "n_tokens",
            (F.col("p0") + 1).alias("p"),
            F.col("z.sh").alias("fp"),
            F.col("z.sh3").alias("fp3"),
        )
    return base.select(
        "id",
        F.size("h").alias("n_tokens"),
        F.posexplode("sh").alias("p0", "fp"),
    ).select("id", "n_tokens", (F.col("p0") + 1).alias("p"), "fp")


def duplicate_passage_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 5,
    impl: str = "pandas",
    count_mode: str = "window",
) -> DataFrame:
    """Exact duplicated-passage accounting per document.

    A token position is "duplicated" when the n-gram starting there
    has a fingerprint that occurs >= 2 times corpus-wide (cross-doc
    duplication AND within-doc repetition both count, as in
    suffix-array substring dedup). Overlapping duplicated n-gram
    intervals [i, i+n-1] merge into maximal spans via gaps-and-islands
    (running max of span end); each doc reports its span count,
    duplicated token count, and duplicated fraction.

    Scale: one (fingerprint) shuffle to count occurrences, one join
    back to positions, one per-doc window (sorted within doc — docs
    bound the sort). Nothing quadratic: work tracks the number of
    duplicated positions, i.e. the duplication density, exactly like
    the suffix-array formulation.

    ``count_mode`` picks the occurrence-counting spelling (results
    identical by construction):

    - ``"window"`` (default): ``count(*) OVER (PARTITION BY fp)`` —
      ONE fp-keyed shuffle and the text scan + hash fold run exactly
      once, but WindowExec buffers each fingerprint's rows in a
      single partition, and AQE skew splitting does NOT apply to
      windows — a 1e8-hot boilerplate fingerprint in a raw crawl
      spills one task. Right default for post-exact-dedup corpora.
    - ``"join"``: groupBy(fp).count (map-side partial aggregation
      absorbs hot keys) + join-back of the small duplicated-fp set
      (broadcast when small; AQE CAN skew-split a sort-merge
      fallback). The position frame is computed twice (aggregate
      side + probe side) — the price of skew immunity on raw crawls.
    """
    if count_mode not in ("window", "join"):
        raise ValueError(f"count_mode must be 'window' or 'join': {count_mode}")
    pos = _shingle_positions(df, id_col, text_col, n, impl).select(
        "id", "n_tokens", F.col("p").alias("s"), (F.col("p") + n - 1).alias("e"), "fp"
    )
    if count_mode == "window":
        # per-fingerprint occurrence count as a WINDOW over fp, not
        # groupBy + join-back: one fp-keyed shuffle, the text scan +
        # hash fold run exactly once, and no persist is needed (the
        # old shape cached the corpus-sized position frame)
        dup = pos.withColumn(
            "c", F.count("*").over(Window.partitionBy("fp"))
        ).filter(F.col("c") >= 2)
    else:
        # skew-safe: partial agg flattens hot fps before the shuffle;
        # only duplicated fps survive the filter, so the join-back
        # side is usually small (inner join == the c >= 2 filter).
        # merge hint: Catalyst sizes this post-explode aggregate at
        # the pre-explode scan, so the static planner broadcasts it
        # regardless of its true size — on a dup-dense 100 TB crawl
        # the duplicated-fp set is billions of rows and that build
        # OOMs (the containment family hit exactly this, SCALE.md
        # round-7); the sort-merge spelling survives any size and
        # AQE still skew-splits it.
        dup_fp = (
            pos.groupBy("fp")
            .agg(F.count("*").alias("c"))
            .filter(F.col("c") >= 2)
        )
        dup = pos.join(dup_fp.hint("merge"), "fp")
    w = Window.partitionBy("id").orderBy(F.col("s").asc())
    prev_max = F.max("e").over(w.rowsBetween(Window.unboundedPreceding, -1))
    islands = (
        dup.withColumn(
            "new_span",
            F.when(prev_max.isNull() | (F.col("s") > prev_max), 1).otherwise(0),
        )
        .withColumn(
            "island",
            F.sum("new_span").over(w.rowsBetween(Window.unboundedPreceding, 0)),
        )
        .groupBy("id", "n_tokens", "island")
        .agg(F.min("s").alias("ss"), F.max("e").alias("ee"))
    )
    return (
        islands.groupBy("id", "n_tokens")
        .agg(
            F.count("*").alias("n_spans"),
            F.sum(F.col("ee") - F.col("ss") + 1).alias("dup_tokens"),
        )
        .select(
            F.col("id").alias(id_col),
            F.col("n_spans").cast("long").alias("n_spans"),
            F.col("dup_tokens").cast("long").alias("dup_tokens"),
            F.col("n_tokens").cast("long").alias("n_tokens"),
            # exact-integer ratio: deterministic unrounded, fragile rounded
            (F.col("dup_tokens") / F.col("n_tokens")).alias("dup_frac"),
        )
    )


def duplicate_substring_chains(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 8,
    max_occ: int = 64,
    impl: str = "pandas",
) -> DataFrame:
    """Arbitrary-length exact duplicated substrings — the distributed
    spelling of suffix-array substring dedup (Lee et al.,
    "Deduplicating Training Data Makes Language Models Better").

    Where :func:`duplicate_passage_spans` marks positions whose
    fixed-n window is duplicated ANYWHERE (an over-approximation —
    adjacent windows may match different partners),  this operator
    recovers the exact maximal repeated substrings by seed-and-chain:

    1. every token n-gram fingerprint occurring 2..``max_occ`` times
       corpus-wide is a SEED; occurrences group per fingerprint and
       pair within the group (occurrence lists are sorted, pairs are
       (earlier, later) — deterministic);
    2. a seed pair (d1, p1, d2, p2) lies on the DIAGONAL
       (d1, d2, p2 - p1); consecutive seeds on one diagonal
       (p1, p1+1, ...) chain into a maximal run — exactly the
       anchor-chaining step of genome aligners, and the distributed
       equivalent of walking a suffix array's LCP intervals. A run of
       k consecutive seeds certifies an exact repeated substring of
       k + n - 1 tokens shared by the two occurrences, maximal on its
       diagonal;
    3. each chain projects onto BOTH endpoints' documents; per-doc
       overlapping projections merge via gaps-and-islands into the
       document's maximal duplicated regions.

    Output per doc (docs with no chained duplicate are absent):
    ``n_spans`` merged regions, ``dup_tokens`` covered tokens,
    ``n_tokens``, ``max_match_len`` (the longest exact repeated
    substring touching the doc, in tokens), ``dup_frac``.

    Fingerprints above ``max_occ`` are repetitive seeds (boilerplate
    n-grams); chaining skips them — pairing a c-occurrence
    fingerprint costs c^2, so the cap bounds per-group work at
    max_occ^2 while the fixed-n passage operator still accounts those
    positions. This is the max-occurrence seed filter of MUMmer /
    minimap2, applied corpus-scale.

    Seeds key on a 90-bit fingerprint carried as two BIGINT columns
    (fp = packed 60-bit double fold, fp3 = third fold —
    functions/hashing.py): chaining turns every fingerprint collision
    into a fabricated "exact" match, and a 30-bit space yields
    ~N^2/2^31 colliding pairs — measured +72% spurious output rows at
    ~5e6 positions and 6x at ~5e7 (SCALE.md round 5). 60 bits holds
    to ~1e9 positions but fabricates ~4e5 collisions at the
    true-100 TB operating point (~1e12 positions); at 90 bits the
    expectation there is ~4e-4.

    Scale: the occurrence-count filter is a window over (fp, fp3)
    and the pair generation a groupBy over the SAME key — one fp
    shuffle total, arrays bounded by max_occ after the filter. Then one
    window shuffle on (d1, d2, diag) whose partitions are chain
    lengths, one on doc id for the island merge. No self-join, no
    driver collect, nothing quadratic beyond the capped per-group
    pairing.
    """
    islands = _chain_islands(df, id_col, text_col, n, max_occ, impl)
    return _chains_summary(islands, id_col)


def _chains_summary(islands: DataFrame, id_col: str) -> DataFrame:
    """Per-doc duplicated-region summary shared by the self and
    incremental substring-chain spellings."""
    return (
        islands.groupBy("id", "n_tokens")
        .agg(
            F.count("*").alias("n_spans"),
            F.sum(F.col("ee") - F.col("ss") + 1).alias("dup_tokens"),
            F.max("ml").alias("max_match_len"),
        )
        .select(
            F.col("id").alias(id_col),
            F.col("n_spans").cast("long").alias("n_spans"),
            F.col("dup_tokens").cast("long").alias("dup_tokens"),
            F.col("n_tokens").cast("long").alias("n_tokens"),
            F.col("max_match_len").cast("long").alias("max_match_len"),
            # exact-integer ratio, unrounded (determinism rule)
            (F.col("dup_tokens") / F.col("n_tokens")).alias("dup_frac"),
        )
    )


def substring_index_build(
    df: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 8,
    impl: str = "pandas",
) -> None:
    """Persist the corpus substring-dedup index: the 90-bit shingle
    position frame (id, n_tokens, p, fp, fp3) as parquet, partitioned
    by fingerprint hash so an incremental run's seed window reads
    co-located postings. Built once by a scheduled job at steady
    state; :func:`duplicate_substring_chains_incremental` consumes it
    via ``spark.read.parquet(path)`` with ``corpus_is_index=True`` —
    the corpus text is never re-tokenized per batch."""
    pos = _shingle_positions(df, id_col, text_col, n, impl, wide=True)
    pos.repartition("fp", "fp3").write.mode("overwrite").parquet(path)


def substring_index_update(
    batch: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 8,
    impl: str = "pandas",
) -> None:
    """Steady-state index maintenance: APPEND the batch's positions
    to an existing :func:`substring_index_build` index after the
    batch has been chained against it — per-ingest cost is the batch
    tokenization + one append write, never an index rewrite. (Spark's
    parquet append adds new files; periodic compaction of small files
    is the same maintenance the feature store's compact/rewrite path
    provides.)

    EXACTLY-ONCE APPEND REQUIRED (ADVICE r6): this is a blind append
    with no idempotency guard — a retried or repeated append of the
    same batch leaves duplicate (id, p) rows, and the next
    incremental run pairs each position with its own copy (d1 == d2,
    diag 0), fabricating whole-doc duplicate spans for the
    re-appended docs. Drive it from an exactly-once orchestration
    (the engine's ``ParquetManifestBackend`` publishes atomically), or
    pass ``dedup_index=True`` to
    :func:`duplicate_substring_chains_incremental` to pay one
    (id, p) dropDuplicates shuffle per serve as the defense."""
    pos = _shingle_positions(batch, id_col, text_col, n, impl, wide=True)
    pos.repartition("fp", "fp3").write.mode("append").parquet(path)


def duplicate_substring_chains_incremental(
    corpus: DataFrame,
    batch: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 8,
    max_occ: int = 64,
    impl: str = "pandas",
    corpus_is_index: bool = False,
    prefilter_index: bool = False,
    dedup_index: bool = False,
) -> DataFrame:
    """Steady-state ingest spelling of exact substring dedup: per
    BATCH doc, the merged regions that duplicate anything in
    corpus-union-batch — exactly ``duplicate_substring_chains`` over
    the union restricted to batch ids (a corpus-corpus seed pair can
    only project onto corpus docs, so skipping those pairs loses
    nothing; the occurrence-count threshold still spans the union).

    ``corpus_is_index=True`` treats ``corpus`` as a prebuilt position
    frame from :func:`substring_index_build` — the production path
    where the corpus text is never re-tokenized per batch.

    Scale: pair generation and everything after it is proportional to
    BATCH-TOUCHING seed groups only (corpus-corpus work skipped).
    ``prefilter_index=True`` additionally semi-joins index postings
    on batch keys before the occurrence window — lossless, measured
    slower on dup-dense fixtures, the winning shape only when batch
    keys match a tiny index fraction (see the inline note).
    ``dedup_index=True`` drops duplicate (id, p) index rows first —
    the defense against a violated exactly-once append contract on
    :func:`substring_index_update` (ADVICE r6: a re-appended batch
    otherwise pairs each position with its own copy and fabricates
    whole-doc duplicate spans); costs one index-wide shuffle per
    serve, so exactly-once orchestration is the cheaper fix.
    """
    pos_c = (
        corpus
        if corpus_is_index
        else _shingle_positions(corpus, id_col, text_col, n, impl, wide=True)
    )
    if dedup_index and corpus_is_index:
        pos_c = pos_c.dropDuplicates(["id", "p"])
    pos_b = _shingle_positions(batch, id_col, text_col, n, impl, wide=True)
    if prefilter_index:
        # Only index postings whose key occurs in the batch can ever
        # pair with a batch position — a corpus-only group yields
        # corpus-corpus pairs, excluded by definition — so a semi-join
        # on batch keys is lossless (ALL of a matching key's corpus
        # occurrences survive it; the >=2/<=max_occ filter still sees
        # the true corpus-wide count). MEASURED at the 100x
        # checkpoint (SCALE.md round 6): the semi-join LOSES on
        # dup-dense data (6.2 s vs 5.3 s at a 2% batch; bucketed
        # index 6.5 s) because the matched fraction is high and the
        # downstream (fp, fp3) window re-shuffles either way — so it
        # is opt-in, for the web-scale regime where batch keys match
        # a tiny index fraction and AQE can broadcast them (there the
        # window-everything spelling shuffles the whole index per
        # batch, which is the losing shape).
        keys_b = pos_b.select("fp", "fp3").distinct()
        pos_c = pos_c.join(keys_b, ["fp", "fp3"], "leftsemi")
    pos = pos_c.withColumn("b", F.lit(0)).unionByName(
        pos_b.withColumn("b", F.lit(1))
    )
    return _chains_summary(
        _chain_islands_from_positions(pos, n, max_occ), id_col
    )


def _chain_islands(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int,
    max_occ: int,
    impl: str,
) -> DataFrame:
    """The shared seed -> pair -> chain -> project -> island-merge
    pipeline behind :func:`duplicate_substring_chains` (per-doc
    summary), :func:`duplicate_substring_span_rows` (span rows), and
    :func:`strip_duplicate_spans` (text rewriting). Returns one row
    per merged duplicated region: (id, n_tokens, island, ss, ee, ml)
    with 1-based inclusive token bounds and the longest exact match
    length contributing to the region."""
    pos = _shingle_positions(df, id_col, text_col, n, impl, wide=True)
    return _chain_islands_from_positions(pos, n, max_occ)


def _chain_islands_from_positions(
    pos: DataFrame, n: int, max_occ: int
) -> DataFrame:
    """Seed -> pair -> chain -> project -> island-merge over a
    prepared position frame (id, n_tokens, p, fp, fp3[, b]).

    If the optional ``b`` flag column (1 = batch, 0 = indexed corpus)
    is present, runs INCREMENTALLY: occurrence counts still span the
    whole union (the dup threshold is corpus-wide), but only pairs
    touching >= 1 batch position are generated and only batch-side
    spans are projected/merged — corpus-vs-corpus work, the bulk at
    steady state, is skipped entirely. The result equals the full
    self-run restricted to batch docs, because a corpus-corpus pair
    can only ever project onto corpus docs."""
    incremental = "b" in pos.columns
    if not incremental:
        pos = pos.withColumn("b", F.lit(1))
    # seed filter: window count over the 90-bit key (fp, fp3), THEN
    # group over the same key — the filtered rows are already
    # hash-partitioned on it, so the collect_list groupBy adds no
    # second exchange
    seeds = pos.withColumn(
        "c", F.count("*").over(Window.partitionBy("fp", "fp3"))
    ).filter((F.col("c") >= 2) & (F.col("c") <= max_occ))
    if incremental:
        # groups with zero batch positions produce no batch pairs —
        # drop them before the collect_list (same window partitioning,
        # no extra exchange); groups with batch members keep ALL
        # their occurrences so corpus partners still pair.
        seeds = seeds.withColumn(
            "bc", F.sum("b").over(Window.partitionBy("fp", "fp3"))
        ).filter(F.col("bc") >= 1)
    grp = seeds.groupBy("fp", "fp3").agg(
        F.array_sort(
            F.collect_list(F.struct("id", "n_tokens", "p", "b"))
        ).alias("occ")
    )
    # all (i < j) pairs within the sorted occurrence list: pair order
    # is (earlier doc/pos, later doc/pos), deterministic. In
    # incremental mode, only pairs touching a batch position.
    tail = "slice(occ, i + 2, size(occ))"
    if incremental:
        tail = f"filter({tail}, bb -> a.b = 1 or bb.b = 1)"
    pairs = grp.select(
        F.explode(
            F.expr(
                "flatten(transform(occ, (a, i) ->"
                f" transform({tail},"
                " b -> struct(a as a, b as b))))"
            )
        ).alias("pr")
    ).select(
        F.col("pr.a.id").alias("d1"),
        F.col("pr.a.n_tokens").alias("nt1"),
        F.col("pr.a.p").alias("p1"),
        F.col("pr.a.b").alias("b1"),
        F.col("pr.b.id").alias("d2"),
        F.col("pr.b.n_tokens").alias("nt2"),
        F.col("pr.b.p").alias("p2"),
        F.col("pr.b.b").alias("b2"),
        (F.col("pr.b.p") - F.col("pr.a.p")).alias("diag"),
    )
    # chain consecutive seeds per diagonal (gaps-and-islands on p1;
    # p1 is unique within a diagonal, so lag() suffices)
    wd = Window.partitionBy("d1", "d2", "diag").orderBy(F.col("p1").asc())
    prev_p1 = F.lag("p1").over(wd)
    chains = (
        pairs.withColumn(
            "new_chain",
            F.when(prev_p1.isNull() | (F.col("p1") > prev_p1 + 1), 1).otherwise(0),
        )
        .withColumn(
            "chain",
            F.sum("new_chain").over(
                wd.rowsBetween(Window.unboundedPreceding, 0)
            ),
        )
        .groupBy("d1", "d2", "diag", "chain")
        .agg(
            F.max("nt1").alias("nt1"),
            F.max("nt2").alias("nt2"),
            F.max("b1").alias("b1"),
            F.max("b2").alias("b2"),
            F.min("p1").alias("s1"),
            (F.max("p1") + n - 1).alias("e1"),
            (F.min("p1") + F.col("diag")).alias("s2"),
            (F.max("p1") + F.col("diag") + n - 1).alias("e2"),
            (F.max("p1") - F.min("p1") + n).alias("match_len"),
        )
    )
    # project each chain onto both documents, merge per-doc islands.
    # Collapse duplicate (id, s, e) projections (two partners matching
    # the same span) BEFORE the island window: unique (s, e) pairs
    # make the window's ORDER BY a total order — with ties, the
    # new_span and running-sum window sorts can order tied rows
    # differently (run-to-run nondeterminism observed in DuckDB),
    # splitting what should be one island
    # explode, not a self-union: a union of two selects over `chains`
    # makes Spark compute the whole seed/chain subtree twice (verified
    # in the executed plan — two fp exchanges); exploding a 2-element
    # struct array projects both endpoints in one pass
    proj = (
        chains.select(
            F.explode(
                F.array(
                    F.struct(
                        F.col("d1").alias("id"),
                        F.col("nt1").alias("n_tokens"),
                        F.col("s1").alias("s"),
                        F.col("e1").alias("e"),
                        F.col("match_len"),
                        F.col("b1").alias("bb"),
                    ),
                    F.struct(
                        F.col("d2").alias("id"),
                        F.col("nt2").alias("n_tokens"),
                        F.col("s2").alias("s"),
                        F.col("e2").alias("e"),
                        F.col("match_len"),
                        F.col("b2").alias("bb"),
                    ),
                )
            ).alias("pr")
        )
        # incremental mode projects batch-side endpoints only — the
        # corpus partner's spans are not this run's output
        .filter(F.col("pr.bb") == 1)
        .select("pr.id", "pr.n_tokens", "pr.s", "pr.e", "pr.match_len")
        .groupBy("id", "n_tokens", "s", "e")
        .agg(F.max("match_len").alias("match_len"))
    )
    wi = Window.partitionBy("id").orderBy(F.col("s").asc(), F.col("e").asc())
    prev_max = F.max("e").over(wi.rowsBetween(Window.unboundedPreceding, -1))
    return (
        proj.withColumn(
            "new_span",
            F.when(prev_max.isNull() | (F.col("s") > prev_max), 1).otherwise(0),
        )
        .withColumn(
            "island",
            F.sum("new_span").over(wi.rowsBetween(Window.unboundedPreceding, 0)),
        )
        .groupBy("id", "n_tokens", "island")
        .agg(
            F.min("s").alias("ss"),
            F.max("e").alias("ee"),
            F.max("match_len").alias("ml"),
        )
    )


def duplicate_substring_span_rows(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 8,
    max_occ: int = 64,
    impl: str = "pandas",
) -> DataFrame:
    """Span-level output of :func:`duplicate_substring_chains`: one
    row per merged maximal duplicated region — (doc, 1-based
    inclusive token bounds, span length, longest exact match inside
    the region). This is the frame a removal/inspection stage
    consumes directly (which passages to cut, audit, or weight),
    where the sibling operator only reports per-doc totals."""
    islands = _chain_islands(df, id_col, text_col, n, max_occ, impl)
    return islands.select(
        F.col("id").alias(id_col),
        F.col("ss").cast("long").alias("span_start"),
        F.col("ee").cast("long").alias("span_end"),
        (F.col("ee") - F.col("ss") + 1).cast("long").alias("span_len"),
        F.col("ml").cast("long").alias("max_match_len"),
        F.col("n_tokens").cast("long").alias("n_tokens"),
    )


def strip_duplicate_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 8,
    max_occ: int = 64,
    impl: str = "pandas",
) -> DataFrame:
    """Rewrite documents with every duplicated region removed — the
    ACTION stage of exact substring dedup (Lee et al. cut duplicated
    substrings rather than drop whole docs). Conservative semantics:
    ALL copies of a duplicated region are cut (the merged spans lose
    partner identity by design; keep-one-copy dedup is the
    document-level operators' job). Output text is in normalized
    token space (lower/trim/single-space) — the same normalization
    every fingerprinting stage applies.

    Every doc comes back (docs with no duplicated span pass through
    with removed_tokens = 0, including docs shorter than one seed).

    Scale: spans aggregate per doc (row count bounded by docs with
    duplicates, row width by span count) and equi-join back on doc id
    against one corpus scan — merge-hinted, because the operator
    exists FOR dup-dense corpora where the span side is
    corpus-proportional, and the static planner would broadcast it on
    its bogus pre-explode size estimate (round-7 broadcast audit);
    the cut itself is a codegen higher-order filter over the token
    array — no Python in the rewrite path.
    """
    islands = _chain_islands(df, id_col, text_col, n, max_occ, impl)
    spans = islands.groupBy("id").agg(
        F.collect_list(F.struct("ss", "ee")).alias("spans"),
        F.sum(F.col("ee") - F.col("ss") + 1).alias("removed"),
    )
    toks = F.expr(H.spark_tokens(text_col))
    # Spark HOF filter index is 0-based; spans are 1-based inclusive
    kept = F.filter(
        toks,
        lambda x, i: ~F.exists(
            F.col("spans"),
            lambda sp: (i + 1 >= sp["ss"]) & (i + 1 <= sp["ee"]),
        ),
    )
    src = df.filter(F.col(text_col).isNotNull())
    return (
        src.join(spans.hint("merge"), src[id_col] == spans["id"], "left")
        .select(
            F.col(id_col),
            F.size(toks).cast("long").alias("n_tokens"),
            F.coalesce(F.col("removed"), F.lit(0)).cast("long").alias(
                "removed_tokens"
            ),
            F.when(
                F.col("spans").isNull(), F.array_join(toks, " ")
            )
            .otherwise(F.array_join(kept, " "))
            .alias("clean_text"),
        )
    )


def _cdc_chunks_arrow(
    df: DataFrame, id_col: str, text_col: str, divisor: int
) -> DataFrame:
    """Arrow spelling of the chunking projection: one mapInPandas over
    (id, text) emitting per-chunk rows, the whole batch vectorized in
    numpy (functions/hashing_pandas.cdc_chunk_rows — bit-identical to
    the SQL folds, asserted in tests/test_round11_plans.py). No
    shuffle: mapInPandas is partition-local, exactly like the codegen
    projection it replaces. Motivation (SCALE.md round 11): the SQL
    spelling's higher-order functions evaluate as interpreted
    Catalyst eval whose throughput is hostage to per-JVM JIT profile
    state — the round-10 bistable 10x CPU episode; the Arrow path's
    hot loop is numpy, immune by construction."""
    from ..functions import hashing_pandas as HP

    id_type = df.schema[id_col].dataType.simpleString()
    schema = f"id {id_type}, n_tokens long, fp long, fp3 long, clen long"
    src = df.filter(F.col(text_col).isNotNull()).select(
        F.col(id_col).alias("id"), F.col(text_col).alias("t")
    )

    def gen(batches):
        for pdf in batches:
            yield HP.cdc_chunk_rows(pdf["id"], pdf["t"], divisor)

    return src.mapInPandas(gen, schema)


def cdc_chunk_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    divisor: int = 16,
    count_mode: str = "window",
    impl: str = "expr",
) -> DataFrame:
    """Content-defined chunking dedup (the FastCDC/LBFS family applied
    to token streams): chunk boundaries are set by CONTENT — a cut
    falls after token ``i`` whenever ``hash(token_i) % divisor == 0``
    — so an insertion early in a document shifts only the chunk it
    lands in, and every later chunk keeps its fingerprint (the
    property fixed-width passage windows lack). Each chunk gets a
    90-bit fingerprint carried as two BIGINT columns (fp = packed
    60-bit double fold, fp3 = third fold): at 100 TB the corpus holds
    ~1e12/divisor ~ 1.6e10 chunks, where a 60-bit space expects ~100
    colliding pairs — each one a falsely "duplicated" chunk; 90 bits
    puts the expectation at ~1e-7. A chunk is "duplicated" when its
    (fp, fp3) occurs >= 2 times corpus-wide. Per doc: chunk count,
    duplicated-chunk count, duplicated-token count, dup fraction.

    Mean chunk length is ``divisor`` tokens (geometric boundary rule).

    Scale: the entire chunking — boundary detection, slicing, both
    folds — runs inside one whole-stage-codegen projection over the
    token-hash arrays (no explode until chunks exist, no Python).
    Then ONE fp-keyed shuffle (window count over fp, the
    duplicate_passage_spans shape) and one per-doc groupBy. Chunk
    rows ~ corpus_tokens / divisor; nothing is quadratic and nothing
    collects.

    ``impl`` picks the chunking-projection spelling, results
    bit-identical (parity-pinned in tests/test_round11_plans.py):
    ``"expr"`` = whole-stage-codegen projection whose folds evaluate
    as interpreted higher-order functions (cross-engine-verifiable
    spelling, but its throughput is hostage to per-JVM JIT profile
    state — the round-10 bistable 10x CPU episode, SCALE.md round
    11); ``"pandas"`` = Arrow mapInPandas with the whole batch
    vectorized in numpy (hot loop immune to JVM JIT state, same
    partition-local no-shuffle shape).

    ``count_mode`` picks the occurrence-counting spelling, results
    identical by construction (see duplicate_passage_spans for the
    full trade): ``"window"`` (default) = one (fp, fp3) shuffle but
    WindowExec buffers each fingerprint in one partition and AQE
    cannot skew-split windows — a 1e8-hot boilerplate chunk in a raw
    crawl spills one task; ``"join"`` = groupBy + join-back of the
    small duplicated-fp set, skew-immune (map-side partial agg +
    broadcast/AQE-splittable join) at the cost of running the
    chunking projection twice.
    """
    if count_mode not in ("window", "join"):
        raise ValueError(f"count_mode must be 'window' or 'join': {count_mode}")
    if impl not in ("expr", "pandas"):
        raise ValueError(f"impl must be 'expr' or 'pandas': {impl}")
    if impl == "pandas":
        chunks = _cdc_chunks_arrow(df, id_col, text_col, divisor)
        return _cdc_count_and_rollup(chunks, id_col, count_mode)
    src = df.filter(F.col(text_col).isNotNull())
    base = src.select(
        F.col(id_col).alias("id"),
        F.expr(H.spark_token_hashes(text_col)).alias("h"),
        F.expr(H.spark_token_hashes2(text_col)).alias("h2"),
        F.expr(H.spark_token_hashes3(text_col)).alias("h3"),
    ).filter(F.size("h") >= 1)
    # cut AFTER position i (1..s-1) when h[i] % divisor == 0; the
    # sequence() guard matters — Spark's sequence(1, 0) DESCENDS
    bpos = (
        f"case when size(h) < 2 then array() "
        f"else filter(sequence(1, size(h) - 1), "
        f"i -> element_at(h, i) % {divisor} = 0) end"
    )
    # The three rolling folds are computed in a projection ABOVE the
    # explode, each as its own top-level expression, rather than
    # nested inside the zip_with lambda (the pre-round-11 spelling).
    # Semantics are identical — same folds over the same slices, chunk
    # order preserved by explode either way — but the expression shape
    # matters operationally: higher-order functions are CodegenFallback
    # in Spark, so the old spelling made the generator expression ONE
    # interpreted tree (zip_with binding -> struct -> three aggregate
    # folds, five HOF levels deep) evaluated per input row, while this
    # spelling leaves the generator tiny (zip_with -> struct of two
    # ints) and evaluates three INDEPENDENT small fold trees per chunk
    # row — separate JIT call sites, separate profile, and candidates
    # for Spark's per-expression codegen splitting. Motivated by the
    # round-10 episodic 6x CPU slow mode on this exact projection
    # (98.6% CPU, zero spill, zero GC — SCALE.md round 11); total fold
    # work is unchanged (sum of chunk lengths = n_tokens per array).
    fold1 = f"aggregate(slice(h, st, en - st + 1), 0L, (acc, c) -> (acc * 31 + c) % {H.P})"
    fold2 = f"aggregate(slice(h2, st, en - st + 1), 0L, (acc2, c2) -> (acc2 * 37 + c2) % {H.P2})"
    fold3 = f"aggregate(slice(h3, st, en - st + 1), 0L, (acc3, c3) -> (acc3 * 41 + c3) % {H.P3})"
    chunks = (
        base.withColumn("bpos", F.expr(bpos))
        .withColumn(
            "st_arr",
            F.expr("concat(array(1), transform(bpos, b -> b + 1))"),
        )
        .withColumn("en_arr", F.expr("concat(bpos, array(size(h)))"))
        .select(
            "id",
            F.size("h").alias("n_tokens"),
            "h",
            "h2",
            "h3",
            F.expr(
                "explode(zip_with(st_arr, en_arr, (st, en) -> "
                "struct(st AS st, en AS en)))"
            ).alias("se"),
        )
        .select(
            "id",
            "n_tokens",
            F.col("se.st").alias("st"),
            F.col("se.en").alias("en"),
            "h",
            "h2",
            "h3",
        )
        .select(
            "id",
            "n_tokens",
            F.expr(f"({fold1}) * {H.WIDE_SHIFT} + ({fold2})").alias("fp"),
            F.expr(fold3).alias("fp3"),
            (F.col("en") - F.col("st") + 1).alias("clen"),
        )
    )
    return _cdc_count_and_rollup(chunks, id_col, count_mode)


def _cdc_count_and_rollup(
    chunks: DataFrame, id_col: str, count_mode: str
) -> DataFrame:
    """Shared tail of cdc_chunk_dedup: corpus-wide (fp, fp3)
    occurrence counting (window or join spelling — see the docstring
    trade) plus the per-doc rollup. ``chunks`` carries
    (id, n_tokens, fp, fp3, clen) from either chunking impl."""
    if count_mode == "window":
        cnt = chunks.withColumn(
            "c", F.count("*").over(Window.partitionBy("fp", "fp3"))
        )
    else:
        # merge hint for the same reason as duplicate_passage_spans:
        # the post-explode size estimate would statically broadcast
        # the duplicated-fp set whatever its true size
        dup_fp = (
            chunks.groupBy("fp", "fp3")
            .agg(F.count("*").alias("cc"))
            .filter(F.col("cc") >= 2)
        )
        cnt = (
            chunks.join(dup_fp.hint("merge"), ["fp", "fp3"], "left")
            .withColumn("c", F.coalesce("cc", F.lit(1)))
            .drop("cc")
        )
    return (
        cnt.groupBy("id", "n_tokens")
        .agg(
            F.count("*").alias("n_chunks"),
            F.sum(F.when(F.col("c") >= 2, 1).otherwise(0)).alias("dup_chunks"),
            F.sum(F.when(F.col("c") >= 2, F.col("clen")).otherwise(0)).alias(
                "dup_tokens"
            ),
        )
        .select(
            F.col("id").alias(id_col),
            F.col("n_tokens").cast("long").alias("n_tokens"),
            F.col("n_chunks").cast("long").alias("n_chunks"),
            F.col("dup_chunks").cast("long").alias("dup_chunks"),
            F.col("dup_tokens").cast("long").alias("dup_tokens"),
            # exact-integer ratio, unrounded (determinism rule)
            (F.col("dup_tokens") / F.col("n_tokens")).alias("dup_frac"),
        )
    )


def k_anonymity_report(
    df: DataFrame,
    qi_cols: list[str],
    k: int = 10,
) -> DataFrame:
    """k-anonymity audit over quasi-identifier columns.

    Every QI combination present in the data is reported with its
    group size and whether it violates k-anonymity (size < k) — the
    rows an attacker could re-identify. The release decision
    (suppress / generalize) consumes this report.

    Scale: one groupBy on the QI key — group count is bounded by the
    QI domain product, never the row count; map-side partial
    aggregation does the heavy lifting.
    """
    return (
        df.groupBy(*qi_cols)
        .agg(F.count("*").alias("group_size"))
        .select(
            *qi_cols,
            F.col("group_size").cast("long").alias("group_size"),
            (F.col("group_size") < k).alias("at_risk"),
        )
    )


def semdedup_prune(
    emb: DataFrame,
    k: int = 4,
    iters: int = 2,
    tau: float = 0.35,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
) -> DataFrame:
    """SemDeDup: semantic dedup via cluster-then-prune.

    1. k-means the embedding space (deterministic Lloyd, see
       ``similarity.kmeans_iterate``);
    2. within each cluster, any vector whose cosine similarity to a
       LOWER-id cluster-mate is >= tau is pruned (the lower id is the
       kept canonical — deterministic, order-free);
    3. output one row per vector: cluster, the canonical it duplicates
       (NULL if kept), and the keep/prune flag.

    Scale: the pairwise term is per-cluster, so cost is
    sum(|cluster|^2) ~ corpus^2 / k — k is chosen so clusters fit the
    budget (SemDeDup's own design; FAISS-scale k at 100 TB). The
    cluster assignment itself is linear (broadcast centroids).
    """
    from .similarity import cosine, kmeans_iterate

    assign = kmeans_iterate(
        emb, k=k, iters=iters, id_col=id_col, vec_col=vec_col, dim=dim
    )
    pts = emb.select(F.col(id_col).alias("pid"), F.col(vec_col).alias("pv"))
    a = assign.select(F.col(id_col).alias("id1"), "cluster").join(
        pts.withColumnRenamed("pid", "id1").withColumnRenamed("pv", "e1"), "id1"
    )
    b = assign.select(F.col(id_col).alias("id2"), "cluster").join(
        pts.withColumnRenamed("pid", "id2").withColumnRenamed("pv", "e2"), "id2"
    )
    dup_of = (
        a.join(b, "cluster")
        .filter(F.col("id2") < F.col("id1"))
        .withColumn("sim", F.round(cosine("e1", "e2"), 6))
        .filter(F.col("sim") >= tau)
        .groupBy("id1")
        .agg(F.min("id2").alias("dup_of"))
    )
    return (
        assign.join(dup_of, assign[id_col] == dup_of["id1"], "left")
        .select(
            F.col(id_col),
            F.col("cluster"),
            F.col("dup_of").cast("long").alias("dup_of"),
            F.col("dup_of").isNotNull().alias("is_dup"),
        )
    )


def semdedup_prune_scaled(
    emb: DataFrame,
    k: int = 16,
    tau: float = 0.35,
    sample_cap: int = 10_000,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    chunk: int = 1024,
) -> DataFrame:
    """SemDeDup at production scale — the Arrow-vectorized sibling of
    :func:`semdedup_prune` (which is the exact, oracle-checked
    spelling; this one is the configuration you run at 100 TB):

    1. **Train on a sample** (FAISS practice): deterministic k-means
       over an id-hash sample of <= ``sample_cap`` vectors; the k
       centroids (a k x dim table — bounded metadata) broadcast to
       every task as a numpy matrix.
    2. **Assign all vectors** in ONE ``mapInPandas`` pass: vectorized
       argmin of squared distance against the broadcast centroids —
       no per-row Python, no crossJoin, linear in the corpus.
    3. **Prune per cluster** via ``applyInPandas``: rows sort by id,
       cosine similarities come from CHUNKED matrix products
       (``chunk`` rows at a time vs all earlier rows), so peak memory
       is chunk x cluster floats however large the cluster. A vector
       is pruned when some lower-id cluster-mate has sim >= tau.

    The quadratic term is per-cluster (SemDeDup's design); ``k`` is
    the knob and can grow to FAISS-scale values here because
    assignment cost no longer depends on k (one numpy argmin), unlike
    the exact path's k-way crossJoin. Different centroid
    initialization means cluster boundaries (and thus borderline dup
    decisions) can differ from the exact path — this is the
    documented ANN trade, tested on recall of planted duplicates and
    run-to-run determinism rather than oracle equality.
    """
    import numpy as np
    import pandas as pd

    from .similarity import kmeans_iterate

    # deterministic id-hash sample, bounded by sample_cap in
    # expectation. Parts-per-million granularity with a floor of 1 so
    # the rate never truncates to zero — at permille granularity a
    # corpus over 1000x sample_cap would silently degenerate the
    # training sample to just the k init vectors.
    n = emb.count()
    rate = min(1.0, sample_cap / max(n, 1))
    ppm = max(1, int(rate * 1_000_000))
    sample = emb.filter(
        (F.pmod(F.xxhash64(F.col(id_col)), F.lit(1_000_000)) < ppm)
        | (F.col(id_col) < k)  # keep the k init vectors present
    )
    _, cents = kmeans_iterate(
        sample, k=k, iters=iters, id_col=id_col, vec_col=vec_col,
        return_centroids=True,
    )
    cent_rows = cents.orderBy("cluster").collect()  # k rows — bounded
    C = np.array([r["centroid"] for r in cent_rows], dtype=np.float64)
    cluster_ids = np.array([r["cluster"] for r in cent_rows])

    src = emb.select(F.col(id_col).alias("vid"), F.col(vec_col).alias("v"))

    def _assign(batches):
        for pdf in batches:
            X = np.array(pdf["v"].tolist(), dtype=np.float64)
            # ||x-c||^2 = ||x||^2 - 2 x.c + ||c||^2 ; argmin over c
            d = (
                (X * X).sum(axis=1, keepdims=True)
                - 2.0 * X @ C.T
                + (C * C).sum(axis=1)
            )
            yield pd.DataFrame(
                {
                    "vid": pdf["vid"],
                    "v": pdf["v"],
                    "cluster": cluster_ids[np.argmin(d, axis=1)].astype("int32"),
                }
            )

    assigned = src.mapInPandas(
        _assign, schema="vid long, v array<double>, cluster int"
    )

    def _prune(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("vid").reset_index(drop=True)
        X = np.array(pdf["v"].tolist(), dtype=np.float64)
        norms = np.linalg.norm(X, axis=1)
        norms[norms == 0] = 1.0
        Xn = X / norms[:, None]
        m = len(pdf)
        dup_of = np.full(m, -1, dtype=np.int64)
        for lo in range(1, m, chunk):
            hi = min(lo + chunk, m)
            sims = np.round(Xn[lo:hi] @ Xn[:hi].T, 6)
            for i in range(lo, hi):
                hits = np.nonzero(sims[i - lo, :i] >= tau)[0]
                if hits.size:
                    dup_of[i] = pdf["vid"].iloc[hits[0]]
        return pd.DataFrame(
            {
                "vec_id": pdf["vid"],
                "cluster": pdf["cluster"],
                "dup_of": pd.array(
                    [int(v) if v >= 0 else None for v in dup_of], dtype="Int64"
                ),
                "is_dup": dup_of >= 0,
            }
        )

    return assigned.groupBy("cluster").applyInPandas(
        _prune, schema="vec_id long, cluster int, dup_of long, is_dup boolean"
    )


def dataset_card(
    df: DataFrame,
    group_cols: list[str] | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    impl: str = "pandas",
) -> DataFrame:
    """Per-(source, lang) dataset-card accounting: docs, tokens,
    distinct text fingerprints (exact-dup rate), mean char length.

    Scale: one scan, one groupBy on the (small) group key; the
    distinct-fingerprint count is the only expansion and swaps to the
    HLL sketch (operators/sketches.py) at 100 TB with the same shape.
    The text fold runs Arrow-batched by default (impl="sql" keeps the
    codegen expression spelling; bit-equal, tested).
    """
    group_cols = group_cols or ["source", "lang"]
    if impl == "sql":
        fp = F.expr(H.spark_str_hash(text_col))
        n_toks = F.size(F.expr(H.spark_tokens(text_col)))
    else:
        @F.pandas_udf("struct<fp: long, nt: int>")
        def fpnt_udf(texts: pd.Series) -> pd.DataFrame:
            return pd.DataFrame(
                {
                    "fp": texts.map(lambda t: HP.str_hash(t or "")),
                    "nt": texts.map(lambda t: len((t or "").lower().strip().split())),
                }
            )

        fp = F.col("__fpnt.fp")
        n_toks = F.col("__fpnt.nt")
    src = df.filter(F.col(text_col).isNotNull())
    if impl != "sql":
        src = src.withColumn("__fpnt", fpnt_udf(F.col(text_col)))
    return (
        src
        .select(*group_cols, fp.alias("fp"), n_toks.alias("nt"), F.length(text_col).alias("nc"))
        .groupBy(*group_cols)
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("nt").cast("long").alias("n_tokens"),
            F.countDistinct("fp").alias("distinct_docs"),
            (F.count("*") - F.countDistinct("fp")).cast("long").alias("exact_dup_docs"),
            # exact-integer ratio: deterministic unrounded, fragile rounded
            (F.sum("nc") / F.count("*")).alias("avg_chars"),
        )
        .withColumn("distinct_docs", F.col("distinct_docs").cast("long"))
    )


def calibration_ece(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bins: int = 10,
) -> DataFrame:
    """Calibration audit of the hashed quality classifier against the
    independent C4-rule label (``quality_score.quality_ok``): a
    ``bins``-bucket reliability table (per-bin count, label accuracy,
    mean normalized score) plus the expected calibration error — the
    check a score-thresholded curation gate needs before its cutoff
    is trusted.

    The normalized score p = (raw + 1)/2 (a monotone [0,1] proxy —
    calibrating sigmoid(raw) instead would put libm ``exp`` in the
    reproducibility path). Exactness: per-doc p quantizes to
    floor(p*1e6) BIGINT micro-units, so per-bin sums are exact and
    order-free; acc, conf and ECE are each ONE double division of
    exact integers — ECE's numerator is sum_b |t_b*1e6 - s_b| (BIGINT),
    not a float sum of per-bin gaps.

    Scale: two corpus map passes (classifier + label) meeting in one
    id-keyed join, then a ``bins``-row aggregate; the global window
    runs over the bins frame only.
    """
    from .text import quality_score

    clf = hashed_quality_classifier(df, id_col=id_col, text_col=text_col)
    lbl = quality_score(df, text_col=text_col).select(
        id_col, F.col("quality_ok").cast("int").alias("y")
    )
    p = (F.col("raw_score") + 1) / 2
    per_doc = (
        clf.select(id_col, "raw_score")
        .join(lbl, id_col)
        .select(
            F.least(F.lit(bins - 1), F.floor(p * bins)).cast("int").alias("score_bin"),
            F.floor(p * 1e6).cast("long").alias("p_micro"),
            "y",
        )
    )
    binned = per_doc.groupBy("score_bin").agg(
        F.count("*").alias("n_docs"),
        F.sum("y").cast("long").alias("t_b"),
        F.sum("p_micro").alias("s_b"),
    )
    w = Window.partitionBy()
    return (
        binned
        .withColumn("__n", F.sum("n_docs").over(w))
        .withColumn(
            "__gap", F.sum(F.abs(F.col("t_b") * 1_000_000 - F.col("s_b"))).over(w)
        )
        .select(
            "score_bin",
            "n_docs",
            (F.col("t_b").cast("double") / F.col("n_docs").cast("double")).alias("acc"),
            (
                F.col("s_b").cast("double")
                / (F.col("n_docs") * 1_000_000).cast("double")
            ).alias("conf"),
            (
                F.col("__gap").cast("double")
                / (F.col("__n") * 1_000_000).cast("double")
            ).alias("ece"),
        )
    )
