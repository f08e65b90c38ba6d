"""Deduplication for large-scale corpora — exact and near-dup.

All algorithms follow the canonical distributed shapes:

- exact:        hash -> groupBy (one shuffle on the hash)
- n-gram Jaccard: inverted-index self-join (explode gram -> join on
                  gram -> count shared -> Jaccard) — exact, and the
                  join key (gram) distributes the n² work
- MinHash+LSH:  shingle -> 64 minhashes -> band -> bucket-join ->
                  verify exact Jaccard on candidates only
- SimHash:      64-bit signature -> chunk blocking -> Hamming verify
- embedding:    cosine pairs under blocking (label) — brute force per
                  block; see similarity.py for the LSH/ANN variant

Everything is built-in-function Spark (xxhash64, higher-order array
functions) — no Python UDFs; the shuffles are on gram/band/bucket
keys, which is what keeps these tractable at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from deltalake_poc_spark.exprlit import lit_long_array


def spread(df: DataFrame, partitions: int | None = None) -> DataFrame:
    """Ensure CPU-bound per-row work is spread across cores.

    Documents tables often arrive as a few large-row-count parquet
    files (locally: ONE file → one partition → one core doing all the
    array/hash work). On a real cluster the scan parallelism comes from
    file splits, and AQE coalesces the round-robin exchange this adds;
    the repartition is unconditional because inspecting the physical
    partitioning (df.rdd) costs a full plan conversion per call."""
    target = partitions or df.sparkSession.sparkContext.defaultParallelism
    return df.repartition(target)


def spread_if_narrow(df: DataFrame, partitions: int | None = None) -> DataFrame:
    """spread() only when the frame's actual scan partitioning cannot
    fill the session's cores. A narrow local fixture (one small file)
    runs CPU-heavy per-row work single-task, while a production
    table's split count already covers the cluster — there the
    round-robin exchange spread() adds is pure cost (a full extra
    pass over the corpus) and is skipped. The probe is
    ``df.rdd.getNumPartitions()``. On a scan-rooted frame (no shuffle
    upstream) it is a driver-side plan conversion with no job; under
    AQE, a frame with upstream shuffles can run those shuffle stages as
    jobs to learn its final partitioning, so probe such frames only
    where that work is reused. Use this variant where the frame is
    consumed once or twice and the probe's ~10 ms is amortized by a
    1-task -> N-task win."""
    target = partitions or df.sparkSession.sparkContext.defaultParallelism
    try:
        if df.rdd.getNumPartitions() >= target:
            return df
    except Exception:
        pass  # un-probe-able plan: fall through to the exchange
    return df.repartition(target)


def _tokens(text_col="text"):
    return F.split(F.trim(F.col(text_col)), " ")


def word_ngrams_col(tokens_col, n: int = 3):
    """Distinct word n-grams from a *materialized* tokens column.

    Two deliberate choices for the hot path: (1) the tokens array must
    be a real column, not an inline split() — Catalyst's CollapseProject
    would otherwise inline the split into every lambda evaluation
    (observed 3.5x slowdown); (2) grams come from slice()+concat_ws
    rather than per-position element_at. Docs shorter than n tokens
    yield an empty array (sequence(0, negative) would count DOWN)."""
    t = F.col(tokens_col) if isinstance(tokens_col, str) else tokens_col
    grams = F.transform(
        F.sequence(F.lit(0), F.size(t) - n),
        lambda i: F.concat_ws(" ", F.slice(t, i.cast("int") + 1, n)),
    )
    return F.when(F.size(t) >= n, F.array_distinct(grams)).otherwise(
        F.array().cast("array<string>")
    )


def doc_grams(docs: DataFrame, n: int = 3, text_col: str = "text") -> DataFrame:
    """(doc_id, grams) with tokens materialized and work spread."""
    return (
        spread(docs.select("doc_id", F.col(text_col)))
        .select("doc_id", _tokens(text_col).alias("__toks"))
        .select("doc_id", word_ngrams_col("__toks", n).alias("grams"))
    )


def _explode_posting(df: DataFrame, array_col: str, out_col: str,
                     keys: tuple[str, ...] = ("doc_id",)) -> DataFrame:
    """Explode a COMPUTED array into a posting list without paying the
    InferFiltersFromGenerate tax: plain ``explode`` makes Catalyst
    clone the generator expression into a pre-Generate pruning filter
    (``size(expr) > 0 AND isnotnull(expr)``), and for these arrays the
    expression IS the expensive part — full-document tokenization +
    n-gram construction re-evaluated up to 3x per row, below the
    spread() exchange. ``explode_outer`` is exempt from that rule (its
    rows survive empty arrays), so the generator runs exactly once;
    the null rows that empty-gram docs contribute are dropped by a
    filter on the OUTPUT column, which cannot sink below the Generate.
    Measured at sf0.1/local[32]: decontaminate -79%, ngram_jaccard
    -78%, connected-components pair building -75%. The isNotNull
    filter also keeps every posting branch's exchange
    canonical-identical, preserving the ReusedExchange plan shape
    (test_plans.py)."""
    return (
        df.select(*[F.col(k) for k in keys],
                  F.explode_outer(array_col).alias(out_col))
        .filter(F.col(out_col).isNotNull())
    )

# ------------------------------------------------------------------ exact


def exact_duplicates(docs: DataFrame) -> DataFrame:
    """Groups of byte-identical (whitespace/case-normalized) texts.
    One row per group: canonical keeper (min doc_id) + member count."""
    norm = F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " ")
    return (
        docs.select(F.md5(norm).alias("text_hash"), F.col("doc_id"))
        .groupBy("text_hash")
        .agg(
            F.min("doc_id").alias("keep_doc_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


def dedup_exact(docs: DataFrame) -> DataFrame:
    """Keep one representative per exact-duplicate group."""
    norm = F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " ")
    w_key = F.md5(norm)
    keepers = (
        docs.select(w_key.alias("text_hash"), "doc_id")
        .groupBy("text_hash").agg(F.min("doc_id").alias("doc_id"))
    )
    return docs.join(keepers.select("doc_id"), "doc_id", "left_semi")


# ---------------------------------------------------------- n-gram jaccard


def ngram_jaccard_pairs(docs: DataFrame, n: int = 3,
                        threshold: float = 0.2,
                        max_df: int | None = None) -> DataFrame:
    """Exact n-gram Jaccard similarity for all pairs sharing >=1 gram.

    Inverted-index join: |A ∩ B| from the gram-key join, |A ∪ B| =
    |A| + |B| - |A ∩ B|. The shuffle key is the gram, so hot grams are
    the skew risk: one gram appearing in d documents contributes
    O(d²) candidate pairs. ``max_df`` drops grams with document
    frequency above the cap from BOTH the posting list and the per-doc
    gram counts (i.e. Jaccard is computed over the sub-cap gram sets) —
    boilerplate grams carry no dedup signal but dominate the join at
    scale. At 100 TB this cap is what keeps the pair count linear-ish;
    leave it None only on corpora known to be skew-free.
    """
    with_grams = doc_grams(docs, n)
    if max_df is not None:
        # slim posting list: the self-join shuffles only
        # (doc_id, gram); per-doc gram counts re-attach afterwards.
        # No broadcast hint: `counts` has one row per DOCUMENT, so at
        # corpus scale a forced broadcast is an OOM — AQE picks
        # broadcast when the side is actually small and falls back to
        # a shuffle join when it isn't. (A groupBy-gram + in-array
        # pair-generation variant was measured at parity on time but
        # builds O(df²) structs per hot gram — the join form degrades
        # more gracefully under gram skew.)
        posting = _explode_posting(with_grams, "grams", "gram")
        # grams are distinct per doc, so count(*) per gram == document
        # frequency. Window-count over gram instead of a groupBy +
        # anti-join: the window's hash(gram) exchange is EXACTLY the
        # distribution the self-join needs, so both join sides AND the
        # per-doc recount all reuse ONE shuffle of ONE tokenization
        # pass (ReusedExchange; plan-pinned in test_plans.py). The
        # anti-join form tokenized the corpus up to 4x. Hot-gram window
        # partitions are df<=corpus-doc-count rows of 16 bytes — no
        # skew hazard at 100 TB (the quadratic blow-up the cap
        # prevents happens in the join, not here).
        w = Window.partitionBy("gram")
        posting = posting.withColumn("__df", F.count(F.lit(1)).over(w))
        counts = (posting.filter(F.col("__df") <= max_df)
                  .groupBy("doc_id").agg(
                      F.count(F.lit(1)).alias("n_grams")))
        # join sides additionally drop df=1 grams (r12): a hapax gram
        # cannot match any other document, so it contributes nothing
        # to `shared` — but real corpora are mostly hapax grams (Zipf
        # tail), so excluding them shrinks the join's sort/probe input
        # severalfold for free. The DENOMINATOR still counts hapax
        # grams (capped Jaccard is over ALL sub-cap grams), which is
        # why `counts` filters on df <= max_df only. Both filters sit
        # above the same window exchange — the shared-shuffle plan
        # shape (ReusedExchange pin) is unchanged.
        joinable = posting.filter(
            (F.col("__df") >= 2) & (F.col("__df") <= max_df)
        ).drop("__df")
        a = joinable.alias("a")
        b = joinable.alias("b")
        pairs = (
            a.join(b, (F.col("a.gram") == F.col("b.gram"))
                   & (F.col("a.doc_id") < F.col("b.doc_id")))
            .groupBy(
                F.col("a.doc_id").alias("doc_a"),
                F.col("b.doc_id").alias("doc_b"),
            )
            .agg(F.count(F.lit(1)).alias("shared"))
            .join(counts.withColumnRenamed("doc_id", "doc_a")
                  .withColumnRenamed("n_grams", "na"), "doc_a")
            .join(counts.withColumnRenamed("doc_id", "doc_b")
                  .withColumnRenamed("n_grams", "nb"), "doc_b")
        )
    else:
        # Capless path (r12): |A| rides the posting list as a carried
        # attribute and the pair aggregate picks it up with min()
        # (n_grams is functionally dependent on doc_id, so min == the
        # value), REPLACING the two count-joins. Those joins were the
        # tier concentration the r11 sweep flagged in split_safety:
        # with no gram-keyed window in the plan, each re-attach
        # re-tokenized the whole corpus (no exchange below the counts
        # subtree to reuse — 4 document-scan nodes in the pre-r12
        # plan, 2 after) and
        # shuffled a corpus-sized counts frame by doc key, twice. The
        # carried long costs +8 bytes per posting row in the ONE gram
        # shuffle; n_grams is computed with size() over the already-
        # projected grams ATTRIBUTE in a separate Project above the
        # tokenization, so the expensive gram expression still
        # evaluates exactly once per document (plan-pinned). The
        # capped branch keeps the re-attach joins: its counts must be
        # RE-counted after the df filter. Like the capped branch, the
        # join sides drop df=1 grams over a gram-keyed window — a
        # hapax gram cannot contribute to `shared`, and the carried
        # (pre-filter) n_grams keeps the denominator over the FULL
        # gram set, so the output is provably identical while the
        # join's sort/probe input shrinks by the corpus's hapax mass
        # (A/B at the sf10 tier: 31 -> 26 s; output-identity pinned).
        posting = _explode_posting(
            with_grams.withColumn("n_grams", F.size("grams")),
            "grams", "gram", keys=("doc_id", "n_grams"))
        w = Window.partitionBy("gram")
        posting = (
            posting
            .withColumn("__df", F.count(F.lit(1)).over(w))
            .filter(F.col("__df") >= 2)
            .drop("__df")
        )
        a = posting.alias("a")
        b = posting.alias("b")
        pairs = (
            a.join(b, (F.col("a.gram") == F.col("b.gram"))
                   & (F.col("a.doc_id") < F.col("b.doc_id")))
            .groupBy(
                F.col("a.doc_id").alias("doc_a"),
                F.col("b.doc_id").alias("doc_b"),
            )
            .agg(F.count(F.lit(1)).alias("shared"),
                 F.min(F.col("a.n_grams")).alias("na"),
                 F.min(F.col("b.n_grams")).alias("nb"))
        )
    jac = F.col("shared") / (F.col("na") + F.col("nb") - F.col("shared"))
    return (
        pairs.select("doc_a", "doc_b", F.round(jac, 4).alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


# --------------------------------------------------------------- winnowing


def winnow_fingerprints(docs: DataFrame, n: int = 4, window: int = 4,
                        portable: bool = False) -> DataFrame:
    """Winnowing fingerprints at token granularity (Schleimer,
    Wilkerson, Aiken, 'Winnowing: Local Algorithms for Document
    Fingerprinting', SIGMOD 2003 — the MOSS algorithm, applied to word
    n-grams as corpus-dedup pipelines do): hash every CONSECUTIVE
    word n-gram (multiplicities and order kept, unlike the distinct
    gram sets of ngram_jaccard), slide a window of ``window``
    consecutive gram hashes, keep each window's minimum. Guarantee:
    any shared run of >= n + window - 1 consecutive tokens yields at
    least one shared fingerprint — verbatim-SPAN detection, which
    bag-of-grams similarity can't give, at ~1/window the posting-list
    size of full n-gram indexing.

    Row-local until the caller joins on fingerprints: O(tokens) gram
    hashes and O(tokens*window) window minima per doc, all inside
    array higher-order functions — zero shuffles here.

    ``portable=True`` swaps xxhash64 for the 31-bit polynomial hash
    (base 139) over the gram's characters, making every fingerprint
    SQL-recomputable for the DuckDB oracle — same contract as
    simhash_signatures(portable).

    Ties inside a window break toward the minimum VALUE (both engines
    agree by construction); the paper's rightmost-position tie rule
    only reduces fingerprint density, not correctness.

    Returns (doc_id, fps: array<long> DISTINCT fingerprints, n_fps).
    """
    # explode-of-1-element-array = Generate barriers between stages:
    # CollapseProject would otherwise inline the tokenization into
    # every gram build and the hash array into every window slice —
    # re-running them hundreds of times per row (observed: the
    # char-level prototype went from minutes-hang to seconds once
    # barriered)
    base = docs.select("doc_id", F.explode(F.array(
        _tokens("text"))).alias("__t"))
    t = F.col("__t")
    grams = F.when(F.size(t) >= n, F.transform(
        F.sequence(F.lit(0), F.size(t) - n),
        lambda i: F.concat_ws(" ", F.slice(t, i.cast("int") + 1, n)),
    )).otherwise(F.array().cast("array<string>"))
    if portable:
        mod = PORTABLE_HASH_MOD

        def gram_hash(g):
            return F.aggregate(
                F.split(g, ""),
                F.lit(0).cast("long"),
                lambda acc, c: (acc * 139 + F.ascii(c)) % mod,
            )
    else:
        def gram_hash(g):
            return F.xxhash64(g)

    hashed = base.select(
        "doc_id",
        F.explode(F.array(
            F.transform(grams, gram_hash))).alias("__h"),
    )
    n_windows = F.size(F.col("__h")) - window + 1
    mins = F.when(
        n_windows >= 1,
        F.transform(F.sequence(F.lit(1), n_windows),
                    lambda j: F.array_min(
                        F.slice(F.col("__h"), j.cast("int"), window))),
    ).otherwise(F.col("__h"))  # fewer grams than a window: keep all
    minned = hashed.select(
        "doc_id", F.explode(F.array(F.array_distinct(mins))).alias("fps"))
    return minned.select("doc_id", "fps",
                         F.size("fps").cast("long").alias("n_fps"))


def winnow_pairs(docs: DataFrame, n: int = 4, window: int = 4,
                 min_shared: int = 2, max_df: int | None = 100,
                 portable: bool = False) -> DataFrame:
    """Verbatim-span near-dup candidates via shared winnowing
    fingerprints — the same slim inverted-index join as
    ngram_jaccard_pairs (shuffle key = fingerprint; ``max_df`` caps
    hot fingerprints exactly like hot grams). All-integer output
    (doc_a, doc_b, n_shared, na, nb) hashes identically across
    engines; consumers derive containment as n_shared/least(na, nb)."""
    from deltalake_poc_spark.analytics.scratch import scratch_persist

    with_fps = winnow_fingerprints(docs, n, window, portable=portable)
    posting = _explode_posting(with_fps, "fps", "fp")
    if max_df is not None:
        w = Window.partitionBy("fp")
        posting = (
            posting
            .withColumn("__df", F.count(F.lit(1)).over(w))
            .filter(F.col("__df") <= max_df)
            .drop("__df")
        )
        # scratch-persist the SLIM (doc_id, fp) posting: the self-join
        # reads it twice and counts a third time — without the cache
        # each consumer replays the whole winnowing chain (tokenize,
        # n-gram hash, window minima) plus the df-cap window shuffle
        # (the image_neardup dhash rule; 16 B/row cache vs triple
        # recompute at any scale)
        # keyed by every parameter that shapes the posting, so calls
        # with different ones keep their own cache
        posting = scratch_persist(
            f"dedup.winnow.posting.{n}.{window}.{max_df}.{portable}",
            posting)
        counts = posting.groupBy("doc_id").agg(
            F.count(F.lit(1)).alias("n_fps"))
    else:
        counts = with_fps.select("doc_id", "n_fps")
    a, b = posting.alias("a"), posting.alias("b")
    return (
        a.join(b, (F.col("a.fp") == F.col("b.fp"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"),
                 F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
        .join(counts.select(F.col("doc_id").alias("doc_a"),
                            F.col("n_fps").cast("long").alias("na")), "doc_a")
        .join(counts.select(F.col("doc_id").alias("doc_b"),
                            F.col("n_fps").cast("long").alias("nb")), "doc_b")
    )


# ------------------------------------------------------------- minhash lsh


def minhash_signatures(docs: DataFrame, num_hashes: int = 64,
                       shingle_n: int = 3,
                       text_col: str = "text") -> DataFrame:
    """MinHash signatures over word shingles: (doc_id, sig) where
    sig[i] = min over shingles of xxhash64(xxhash64(shingle), i).
    Row-local, no shuffle. Docs with fewer than ``shingle_n`` tokens
    (zero shingles) are dropped — an all-null signature would put
    every empty doc in every band's same bucket, a quadratic candidate
    blow-up at scale.

    Two performance-critical shapes (both plan-verified):
    - Two-level hashing: each shingle STRING is hashed to a long once,
      then the num_hashes min-wise functions run over fixed-width
      longs — ~4x faster than hashing the string per function. The
      estimator samples the set of shingle-hashes instead of the
      shingle set; a cross-shingle collision (~n²/2⁶⁴) is negligible
      against the banding miss probability, so the exact-rescore +
      recall-1.0 oracle contract (see the minhash_dedup entry in
      __spark_entry__.queries()) holds unchanged.
    - The token guard sits BELOW the n-gram chain on the materialized
      token column: a size(grams) > 0 filter above it made predicate
      pushdown re-inline the tokenizer into the condition and every
      consumer (split() appeared 4x in the plan — 3x the work)."""
    toks = (
        spread(docs.select("doc_id", F.col(text_col)))
        .select("doc_id", _tokens(text_col).alias("__toks"))
        .filter(F.size("__toks") >= shingle_n)
    )
    hashed_grams = F.transform(
        word_ngrams_col("__toks", shingle_n), lambda g: F.xxhash64(g))

    # ONE SQL string for all num_hashes min-wise functions: building
    # 64 array_min(transform(...)) Columns costs ~400 py4j round trips
    # (~0.4 s of driver time) per signature frame; the parsed tree is
    # identical (xxhash64 over (bigint, int) literals either way)
    sig = F.expr("array(" + ",".join(
        f"array_min(transform(__hl, h -> xxhash64(h, {i})))"
        for i in range(num_hashes)) + ")")
    return (
        # materialized long-hash array: CollapseProject keeps the
        # non-cheap transform chain out of the 64 per-function lambdas
        toks.select("doc_id", hashed_grams.alias("__hl"))
        .select("doc_id", sig.alias("sig"))
    )


def minhash_lsh_pairs(docs: DataFrame, num_hashes: int = 64, bands: int = 16,
                      shingle_n: int = 3, threshold: float = 0.5) -> DataFrame:
    """MinHash + banded LSH near-dup pairs, verified with exact Jaccard.

    shingle -> signature (row-local) -> explode one (band, band_hash)
    per band -> self-join on the bucket (the only shuffle) -> exact
    Jaccard on the candidates only. Bands/rows tuned for the usual
    s-curve: 16 bands x 4 rows ≈ threshold 0.5.
    """
    rows_per_band = num_hashes // bands
    sigs = minhash_signatures(docs, num_hashes, shingle_n)
    # slim band frame: only (doc_id, band, band_hash) goes through the
    # self-join shuffle; gram arrays re-attach to the (small) candidate
    # set afterwards — carrying arrays through a x16-exploded join is
    # the classic LSH-join mistake at scale
    banded = _banded(sigs, bands, rows_per_band)
    # scratch-persist the SLIM (doc_id, band, band_hash) frame: both
    # self-join sides otherwise replay the whole signature chain
    # (tokenize + 64 hash folds per doc) — the winnow/dhash rule
    from deltalake_poc_spark.analytics.scratch import scratch_persist
    banded = scratch_persist(
        f"dedup.minhash.banded.{num_hashes}.{bands}.{shingle_n}", banded)
    a, b = banded.alias("a"), banded.alias("b")
    cands = (
        a.join(b, (F.col("a.band") == F.col("b.band"))
               & (F.col("a.band_hash") == F.col("b.band_hash"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"),
        )
        .dropDuplicates(["doc_a", "doc_b"])
    )
    gram_sets = doc_grams(docs, shingle_n)
    cands = (
        cands.join(gram_sets.select(F.col("doc_id").alias("doc_a"),
                                    F.col("grams").alias("ga")), "doc_a")
        .join(gram_sets.select(F.col("doc_id").alias("doc_b"),
                               F.col("grams").alias("gb")), "doc_b")
    )
    inter = F.size(F.array_intersect(F.col("ga"), F.col("gb")))
    union = F.size(F.col("ga")) + F.size(F.col("gb")) - inter
    return (
        cands.select(
            "doc_a", "doc_b",
            F.round(inter / union, 4).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


# ----------------------------------------------------------------- simhash

# Mersenne prime 2^31-1: polynomial-hash modulus small enough that
# acc*base+code never overflows a long, big enough for 31 usable bits.
PORTABLE_HASH_MOD = 2147483647


def portable_token_hash(tok, base: int):
    """Polynomial rolling hash over code points, mod 2^31-1.

    Unlike xxhash64 this is plain integer arithmetic, expressible
    verbatim in any SQL engine (the DuckDB oracle recomputes it with
    list_reduce), so signatures built from it are cross-engine
    verifiable. Use xxhash64 in production (JVM intrinsic, better
    mixing); use this where an independent engine must reproduce the
    signature bit-for-bit."""
    return F.aggregate(
        F.split(tok, ""),
        F.lit(0).cast("long"),
        lambda acc, c: (acc * base + F.ascii(c)) % PORTABLE_HASH_MOD,
    )


def simhash_signatures(docs: DataFrame, bits: int = 64,
                       portable: bool = False) -> DataFrame:
    """64-bit SimHash over distinct tokens: bit b is set when the
    majority of token hashes have bit b set (equivalently, the sign of
    the ±1 sum). Computed ROW-LOCALLY with array higher-order functions
    — no explode, no shuffle (measured 2.5x faster than the
    explode+groupBy formulation, bitwise-identical signatures).

    ``portable=True`` swaps xxhash64 for two 31-bit polynomial hashes
    packed into a 62-bit value — SQL-recomputable, so the whole
    signature (and any pair set derived from it) has an exact DuckDB
    oracle."""
    toks = F.array_distinct(F.split(F.trim(F.col("text")), " "))
    if portable:
        bits = 62
        # BOTH polynomial hashes from ONE fold over the token's chars
        # (a 2-slot accumulator) — portable_token_hash twice would
        # split + fold the character array twice (~35% slower). Same
        # arithmetic per slot, so values and the SQL oracle that
        # recomputes them are unchanged.
        mod = PORTABLE_HASH_MOD

        def _pair(t):
            return F.aggregate(
                F.split(t, ""),
                F.array(F.lit(0).cast("long"), F.lit(0).cast("long")),
                lambda acc, c: F.array(
                    (acc[0] * 137 + F.ascii(c)) % mod,
                    (acc[1] * 131 + F.ascii(c)) % mod))

        head = [F.transform(toks, _pair).alias("__hp")]
        hashes = F.transform(
            F.col("__hp"),
            lambda p: p[0] * F.lit(1 << 31).cast("long") + p[1])
    else:
        head = []
        hashes = F.transform(toks, lambda t: F.xxhash64(t))

    # ONE aggregate pass accumulating all per-bit counts (the previous
    # per-bit F.size(F.filter(...)) formulation scanned the token-hash
    # array ``bits`` times per row — ~8x the CPU and a much larger
    # codegen unit, i.e. slower cold too). Bit tests use mod against
    # literal powers of two (dynamic shifts aren't column-exprs):
    # valid for non-negative values, so signed 64-bit hashes split
    # into low-62-bits + two literal-mask tests for bits 62/63.
    low = F.lit((1 << 62) - 1)
    pw = lit_long_array([1 << b for b in range(min(bits, 62))])

    def _bits_of(h):
        lo = h.bitwiseAND(low)
        arr = F.transform(pw, lambda p: F.when((lo % (p + p)) >= p, 1)
                          .otherwise(0))
        if bits >= 63:
            arr = F.concat(arr, F.array(
                F.when(h.bitwiseAND(F.lit(1 << 62)) != 0, 1).otherwise(0)))
        if bits == 64:
            arr = F.concat(arr, F.array(F.when(h < 0, 1).otherwise(0)))
        return arr

    counts = F.aggregate(
        F.col("__h"), F.array_repeat(F.lit(0), bits),
        lambda acc, h: F.zip_with(acc, _bits_of(h), lambda a, x: a + x))
    majority = F.transform(
        F.col("__c"),
        lambda c: F.when(c * 2 > F.col("__n"), F.lit(1).cast("long"))
        .otherwise(F.lit(0).cast("long")))
    # Horner over bits high->low stays under 2^62 for the first 62
    # bits (ANSI-safe); bits 62/63 are added as literal terms, bit 63
    # as -(2^63) exactly like the two's-complement value it is
    horner_bits = F.reverse(F.slice(F.col("__m"), 1, min(bits, 62)))
    sig = F.aggregate(horner_bits, F.lit(0).cast("long"),
                      lambda acc, x: acc * 2 + x)
    if bits >= 63:
        sig = sig + F.col("__m")[62] * F.lit(1 << 62).cast("long")
    if bits == 64:
        sig = sig + F.col("__m")[63] * F.lit(-(1 << 63)).cast("long")
    base = spread(docs.select("doc_id", "text"))
    if head:
        base = base.select("doc_id", *head)
    return (
        base.select("doc_id", hashes.alias("__h"))
        .select("doc_id", F.size("__h").alias("__n"), counts.alias("__c"))
        .select("doc_id", "__n", majority.alias("__m"))
        .select("doc_id", sig.alias("simhash"))
    )


def simhash_pairs(docs: DataFrame, max_hamming: int = 3,
                  portable: bool = False) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance <= k, blocked on
    16-bit chunks (pigeonhole: distance <=3 means at least one of the
    4 chunks is identical -> join per chunk, union, verify with
    bit_count(xor)). The blocking is EXACT (not probabilistic), so the
    output is precisely the all-pairs hamming<=k set — with
    ``portable=True`` that set is recomputable in SQL end-to-end."""
    sigs = simhash_signatures(docs, portable=portable)
    chunks = sigs.select(
        "doc_id", "simhash",
        F.posexplode(F.array(*[
            F.shiftrightunsigned(F.col("simhash"), 16 * c).bitwiseAND(F.lit(0xFFFF))
            for c in range(4)
        ])).alias("chunk_idx", "chunk"),
    )
    a, b = chunks.alias("a"), chunks.alias("b")
    # Verify-then-dedup, never dedup-then-verify: blocking candidates
    # crowd quadratically with corpus size (at 5M docs the 16-bit
    # buckets average ~76 members -> ~760M candidate rows), so the
    # hamming verdict must be computed WHERE the join emits rows —
    # inside the join stage, before any further exchange. Only the
    # passing pairs (linear-ish) reach the dropDuplicates shuffle; a
    # dedup of the raw candidates is the same rows shuffled twice and
    # ENOSPC'd the 1000x derivative run (SCALE.md).
    #
    # The coalesce is load-bearing, not defensive: a bare
    # ``a.simhash ^ b.simhash`` in the (pushed-into-join) filter is
    # null-INtolerant, so Catalyst infers IsNotNull(simhash) and
    # pushes that constraint below the Project into both scans —
    # where ``simhash`` is still the full tokenize/hash/majority
    # expression, now evaluated a SECOND time per row as a filter
    # (measured 8x wall on sf0.1). coalesce is null-tolerant, so no
    # constraint is inferred and the signature is computed once.
    # Semantics are unchanged: a null signature (null text) explodes
    # to null chunks, and null equi-join keys never match, so no
    # null-sig row reaches this condition anyway.
    ham = F.bit_count(F.coalesce(F.col("a.simhash"), F.lit(0)).bitwiseXOR(
        F.coalesce(F.col("b.simhash"), F.lit(0))))
    return (
        a.join(b, (F.col("a.chunk_idx") == F.col("b.chunk_idx"))
               & (F.col("a.chunk") == F.col("b.chunk"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(F.col("a.doc_id").alias("doc_a"),
                F.col("b.doc_id").alias("doc_b"), ham.alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
        .dropDuplicates(["doc_a", "doc_b"])
    )


# -------------------------------------------------- duplicate-group closure


# observability for the scale harness and tests: the regime and round
# count of the most recent connected_components call in this process
LAST_CC_INFO: dict = {}


def connected_components(pairs: DataFrame, max_iterations: int = 20,
                         driver_threshold: int = 1_000_000,
                         ) -> DataFrame:
    """Collapse near-dup PAIRS into duplicate GROUPS: connected
    components; (doc_id, group_id) where group_id = min doc_id of the
    component — the canonical keeper.

    Two regimes, picked by edge count:
    - up to ``driver_threshold`` edges: union-find on the driver (dup
      pair sets are usually far smaller than the corpus; one collect
      of the PAIRS — never the docs — beats multi-round job overhead).
      The collect is an Arrow/pandas transfer of two LONG columns:
      16 bytes/edge + the two numpy arrays ≈ ~50 MB at the default
      1M-edge ceiling (vs ~100 bytes/edge as Row objects), far inside
      the 8 GB driver budget; the union-find dict peaks at
      O(distinct members) boxed ints, bounded by 2x edges.
    - larger: alternating large-star/small-star (_alternating_star) —
      O(log n) rounds with path doubling AND a shrinking edge set.
      Measured at the sf100 tier (SCALE.md / SCALE_RUN_CC.json): it
      converges on deep-chain shapes (diameter >> max_iterations) at
      no cost on the real shallow near-dup pair graph.
    Both must produce the identical assignment (pinned by
    tests/test_pipeline.py and the dedup_groups_distributed gate).

    Input: columns doc_a, doc_b (as produced by the *_pairs functions).
    """
    spark = pairs.sparkSession
    pairs = pairs.persist()  # edge-count probe + collect/iteration reuse
    # Full count, not limit(threshold+1).count(): a limited count can
    # short-circuit before the cache is populated, forcing the expensive
    # pairs plan (e.g. the ngram self-join) to run AGAIN for toPandas().
    # Either regime materializes every pair anyway, so the full count is
    # the same work and leaves the persist actually hit.
    n_edges = pairs.count()
    if n_edges <= driver_threshold:
        try:
            pdf = pairs.select("doc_a", "doc_b").toPandas()
        finally:
            pairs.unpersist()
        parent: dict = {}

        def find(x):
            root = x
            while parent.get(root, root) != root:
                root = parent[root]
            while parent.get(x, x) != x:  # path compression
                parent[x], x = root, parent[x]
            return root

        col_a = pdf["doc_a"].to_numpy()
        col_b = pdf["doc_b"].to_numpy()
        for a0, b0 in zip(col_a.tolist(), col_b.tolist()):
            a, b = find(a0), find(b0)
            if a != b:
                lo, hi = (a, b) if a < b else (b, a)
                parent[hi] = lo
        members = set(col_a.tolist()) | set(col_b.tolist())
        data = [(m, find(m)) for m in sorted(members)]
        LAST_CC_INFO.update(regime="union-find", rounds=1,
                            n_edges=n_edges)
        # broadcast hint: this regime's output is <= 2*driver_threshold
        # rows BY CONSTRUCTION (it just fit on the driver — ~32 MB at
        # the 1M-edge ceiling), but Catalyst has no size estimate for
        # a local relation and plans SortMergeJoins in every consumer
        # (dedup_groups / canonical_selection / semantic_dedup join it
        # against the docs), shuffling the corpus side by doc_id just
        # to attach group ids. The distributed regime returns an
        # unhinted frame — its components can be corpus-sized. The
        # hint is capped INDEPENDENTLY of the caller-tunable
        # driver_threshold (a forced broadcast bypasses the planner's
        # size check, so a raised threshold must degrade to a
        # planner-chosen join, not a mandatory executor broadcast):
        # 8M rows ~= 128 MB built.
        out = spark.createDataFrame(data, "doc_id long, group_id long")
        return F.broadcast(out) if len(data) <= 8_000_000 else out
    try:
        return _alternating_star(pairs, max_iterations, n_edges)
    finally:
        pairs.unpersist()


def _alternating_star(pairs: DataFrame, max_iterations: int,
                      n_edges: int) -> DataFrame:
    """Alternating large-star/small-star connected components — the
    public MapReduce CC algorithm (Kiveris, Lattanzi, Mirrokni,
    Rastogi, Vassilvitskii, "Connected Components in MapReduce and
    Beyond", SoCC 2014). Each round:

    - large-star: symmetrize; every neighbor v of u with v > u links
      to m(u) = min(N(u) ∪ {u}). Path-doubling: big labels hop two
      steps toward the minimum per round.
    - small-star: orient each edge to its larger endpoint; every
      smaller neighbor of u, and u itself, links to the min neighbor.

    Converges to disjoint stars (every node pointing at its
    component's min) in O(log n) rounds — and unlike min-label
    propagation, the EDGE SET CONTRACTS as it runs, so late rounds
    are cheap even on giant components. Convergence detected by a
    (count, bit_xor(xxhash64)) signature of the round's output — one
    1-row aggregate per round, no driver edge materialization.

    Per-round shape: two groupBy-min aggregations + two distincts on
    slim (long, long) rows. No collect_list — a whale hub node costs
    a wide min-aggregation, never an in-memory neighbor array.
    """
    e = (pairs.select(F.col("doc_a").alias("u"), F.col("doc_b").alias("v"))
         .filter(F.col("u") != F.col("v")).distinct().persist())
    prev_sig = None
    rounds = 0
    for _ in range(max_iterations):
        rounds += 1
        # large-star
        b = e.unionByName(
            e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        mins = (b.groupBy("u").agg(F.min("v").alias("mv"))
                .select("u", F.least(F.col("u"), F.col("mv")).alias("m")))
        # no distinct on ls: b2's canonicalizing distinct immediately
        # subsumes it, so a distinct here would only add an exchange
        # per round (the large-star join output flows map-side into
        # b2's shuffle; duplicate (u, m) rows are bounded by the
        # node's degree and collapse one stage later)
        ls = (b.join(mins, "u").where(F.col("v") > F.col("u"))
              .select(F.col("v").alias("u"), F.col("m").alias("v"))
              .where(F.col("u") != F.col("v")))
        # small-star (on the large-star output, oriented u > v)
        b2 = (ls.select(F.greatest("u", "v").alias("u"),
                        F.least("u", "v").alias("v")).distinct())
        mins2 = b2.groupBy("u").agg(F.min("v").alias("m"))
        # localCheckpoint, not persist: each round REBUILDS the edge
        # frame, so lineage (and the logical plan) would grow by ~10
        # operators per round — by round ~8 Catalyst planning itself
        # becomes the bottleneck (tree-walk stack overflows observed).
        # Checkpointing truncates lineage to the materialized RDD, the
        # same discipline GraphFrames CC uses.
        # bit_xor, not sum: ANSI mode makes a long-sum of hashes an
        # overflow error; xor is order-independent and overflow-free
        # (edges are distinct, so xor cancellation needs a hash
        # collision — the count in the signature backstops it).
        # The signature rides the checkpoint's materialize job via
        # observe() — the historical separate 1-row agg was a second
        # job per round (2 jobs/round -> 1).
        from pyspark.sql import Observation

        obs = Observation()
        ss = (b2.join(mins2, "u")
              .select(F.when(F.col("v") == F.col("m"), F.col("u"))
                      .otherwise(F.col("v")).alias("su"),
                      F.col("m").alias("sv"))
              .select(F.col("su").alias("u"), F.col("sv").alias("v"))
              .where(F.col("u") != F.col("v")).distinct()
              .observe(obs, F.count(F.lit(1)).alias("n"),
                       F.bit_xor(F.xxhash64("u", "v")).alias("h"))
              .localCheckpoint())
        sig_row = obs.get
        sig = (sig_row["n"], sig_row["h"])
        old = e
        e = ss
        old.unpersist()
        if sig == prev_sig:
            break
        prev_sig = sig
    else:
        raise ValueError(
            f"alternating star did not converge in {max_iterations} "
            f"rounds — raise max_iterations")
    LAST_CC_INFO.update(regime="star", rounds=rounds, n_edges=n_edges)
    # stars: members point at the root; add the root's own row
    return (e.select(F.col("u").alias("doc_id"), F.col("v").alias("group_id"))
            .unionByName(e.select(F.col("v").alias("doc_id"),
                                  F.col("v").alias("group_id")).distinct())
            .distinct())


def dedup_groups(docs: DataFrame, pairs: DataFrame,
                 driver_threshold: int = 1_000_000) -> DataFrame:
    """Final dedup decision from near-dup pairs: every doc mapped to
    its group keeper; docs in no pair keep themselves.

    ``driver_threshold`` passes through to
    :func:`connected_components`; 0 forces the distributed
    large-star/small-star regime regardless of edge count (the regime
    a 100 TB corpus's pair set lands in), which must produce the
    identical assignment.
    """
    comp = connected_components(pairs, driver_threshold=driver_threshold)
    return (
        docs.select("doc_id")
        .join(comp, "doc_id", "left")
        .select("doc_id",
                F.coalesce("group_id", F.col("doc_id")).alias("keep_doc_id"))
        .withColumn("is_kept", F.col("doc_id") == F.col("keep_doc_id"))
    )


def canonical_selection(docs: DataFrame, pairs: DataFrame,
                        quality: DataFrame) -> DataFrame:
    """Quality-aware canonical selection: within each near-dup
    component keep the HIGHEST-QUALITY member instead of the lowest
    doc_id — the dedup policy a curated training corpus actually
    wants (the best-written copy of a page survives, not the one that
    crawled first).

    ``pairs`` is any near-dup pair frame (ngram_jaccard_pairs /
    minhash_lsh_pairs); ``quality`` is (doc_id, z) — a DETERMINISTIC
    comparable margin (quality_classifier's fixed-order z). The keeper
    per component is max_by(z), ties to the lowest doc_id (struct
    max over (z, -doc_id) — one map-side-combinable aggregate, no
    per-group sort).

    Scale shape: components come from the bounded union-find or the
    distributed large-star/small-star in :func:`connected_components`;
    the argmax is one groupBy(group) over slim (group, z, doc_id) rows.

    Returns one row per document: (doc_id, group_id, keep_doc_id,
    is_kept, n_members).
    """
    assign = (
        docs.select("doc_id")
        .join(connected_components(pairs), "doc_id", "left")
        .select("doc_id",
                F.coalesce("group_id", F.col("doc_id")).alias("group_id"))
    )
    qz = quality.select("doc_id", F.col("z").alias("__z"))
    # LEFT join: a document with no quality row must not vanish from
    # the output (the docstring's one-row-per-document contract).
    # Quality-less members rank below every scored member (z -> -inf);
    # an all-unscored group falls back to min(doc_id) via the same
    # (z, -doc_id) struct order.
    best = (
        assign.join(qz, "doc_id", "left")
        .groupBy("group_id")
        .agg(F.max_by(
            F.col("doc_id"),
            F.struct(
                F.coalesce(F.col("__z"),
                           F.lit(float("-inf"))).alias("__z"),
                (-F.col("doc_id")).alias("__nid")))
            .alias("keep_doc_id"),
            F.count(F.lit(1)).cast("long").alias("n_members"))
    )
    # groups-sized join (one row per group ~ one per doc at the
    # limit): keyed shuffle join, NOT broadcast — AQE may still pick
    # broadcast when the group side measures small
    return (
        assign.join(best, "group_id")
        .select("doc_id", "group_id", "keep_doc_id",
                (F.col("doc_id") == F.col("keep_doc_id")).alias("is_kept"),
                "n_members")
    )


# ------------------------------------------------------ decontamination


def contamination_counts(candidates: DataFrame, benchmark: DataFrame,
                         n: int = 5) -> DataFrame:
    """Benchmark decontamination: for each candidate training document,
    count how many of its distinct word n-grams also appear anywhere in
    the benchmark/eval set. Docs with n_overlap_grams above a policy
    threshold get dropped before training (the standard 13-gram
    decontamination sweep; n is configurable because synthetic corpora
    need shorter grams to exhibit overlap).

    Scale shape: the benchmark side collapses to a DISTINCT gram set
    (eval suites are tiny next to a 100 TB corpus — typically fits in a
    broadcast, but no hint is forced; AQE decides from measured size).
    The candidate side shuffles (doc_id, gram) postings on the gram
    key — the same inverted-index join as ngram_jaccard_pairs, linear
    in corpus size, never all-pairs."""
    bench_grams = (
        _explode_posting(doc_grams(benchmark, n), "grams", "gram")
        .select("gram")
        .distinct()
    )
    posting = _explode_posting(doc_grams(candidates, n), "grams", "gram")
    return (
        posting.join(bench_grams, "gram")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_overlap_grams"))
    )


# ------------------------------------------------------- embedding cosine


def embedding_neardup_pairs(emb: DataFrame, threshold: float = 0.9,
                            block_col: str | None = "label") -> DataFrame:
    """Near-duplicate pairs by embedding cosine similarity.

    Exact within blocks: pairs are only formed inside ``block_col``
    groups (blocking turns O(n²) into sum of O(n_b²); at 100 TB use a
    real blocking key — LSH bucket, shard, cluster id). The cosine is
    computed with zip_with/aggregate in double precision — built-in
    functions only, identical fold order to the DuckDB oracle."""
    d = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    # norm 0 -> 1: an all-zero embedding would otherwise make the
    # quotient 0/0 = NaN, which Spark orders ABOVE every double, so
    # `cosine >= threshold` would spuriously mark the zero vector a
    # near-dup of its whole block. With the guard its dot is 0, so
    # cosine = 0 and it pairs with nothing (oracle carries the same
    # zero-norm CASE).
    raw_norm = F.sqrt(F.aggregate(F.transform(d, lambda x: x * x),
                                  F.lit(0.0), lambda acc, x: acc + x))
    norm = F.when(raw_norm == 0, F.lit(1.0)).otherwise(raw_norm)
    # norms are computed ONCE per vector (n), not per pair (n²)
    base = spread(emb).select("vec_id", d.alias("v"), norm.alias("nrm"),
                              *([F.col(block_col)] if block_col else []))
    a, b = base.alias("a"), base.alias("b")
    cond = F.col("a.vec_id") < F.col("b.vec_id")
    if block_col:
        cond = cond & (F.col(f"a.{block_col}") == F.col(f"b.{block_col}"))
    dot = F.aggregate(
        F.zip_with(F.col("a.v"), F.col("b.v"), lambda x, y: x * y),
        F.lit(0.0), lambda acc, x: acc + x,
    )
    return (
        a.join(b, cond)
        .select(
            F.col("a.vec_id").alias("vec_a"), F.col("b.vec_id").alias("vec_b"),
            F.round(dot / (F.col("a.nrm") * F.col("b.nrm")), 4).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )


# ------------------------------------------------------- streaming dedup


def streaming_dedup_exact(docs_stream: DataFrame, table_root: str,
                          checkpoint_dir: str,
                          available_now: bool = False):
    """Incremental exact dedup of a document STREAM: each micro-batch
    keeps its first document per normalized-text hash, then an
    insert-only MERGE admits only hashes the snapshot table has never
    seen. The table accumulates the deduped corpus; replayed batches
    re-converge (idempotent), and earliest-arrival wins across
    batches — the streaming twin of ``dedup_exact``.

    Scale shape: the per-batch window partitions on text_hash (one
    shuffle of the batch, not the corpus) and the MERGE's file-stats
    pruning touches only files whose hash range overlaps the batch.
    """
    from pyspark.sql import Window

    from deltalake_poc_spark.tables import VersionedTable

    def process(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        norm = F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " ")
        hashed = batch_df.withColumn("text_hash", F.md5(norm))
        w = Window.partitionBy("text_hash").orderBy("doc_id")
        firsts = (hashed.withColumn("__rn", F.row_number().over(w))
                  .filter(F.col("__rn") == 1).drop("__rn"))
        table = VersionedTable.create(
            spark, table_root, firsts.schema, if_not_exists=True)
        (table.merge(firsts, on="text_hash")
         .when_not_matched_insert_all().execute())

    writer = (docs_stream.writeStream.foreachBatch(process)
              .option("checkpointLocation", checkpoint_dir)
              .queryName("dedup-exact"))
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


# ------------------------------------------- incremental signature store

def minhash_band_hashes(sig_sql: str, bands: int, rows_per_band: int):
    """One xxhash64 per band over that band's signature rows — the
    LSH bucket keys. Row-local. ``sig_sql`` is the signature column's
    SQL name; the whole band array rides as one parsed expression
    (the exprlit construction-cost rule)."""
    return F.expr("array(" + ",".join(
        "xxhash64(" + ",".join(
            f"{sig_sql}[{b * rows_per_band + r}]"
            for r in range(rows_per_band)) + ")"
        for b in range(bands)) + ")")


def _banded(sigs: DataFrame, bands: int, rows_per_band: int) -> DataFrame:
    """Slim (doc_id, band, band_hash) frame — the only thing that goes
    through LSH join shuffles."""
    return sigs.select(
        "doc_id",
        F.posexplode(minhash_band_hashes("sig", bands,
                                         rows_per_band))
        .alias("band", "band_hash"),
    )


def signature_store_init(spark, root: str, num_hashes: int = 64):
    """Create (or open) the corpus signature store: one row per
    admitted document, carrying ONLY its MinHash signature —
    ~8*num_hashes bytes/doc, so a 100-billion-doc corpus fits in
    ~50 TB of store against the corpus's 100 TB+ of text, and
    incremental dedup never re-reads corpus text at all."""
    from pyspark.sql.types import (ArrayType, LongType, StructField,
                                   StructType)

    from deltalake_poc_spark.tables import VersionedTable

    schema = StructType([
        StructField("doc_id", LongType()),
        StructField("sig", ArrayType(LongType())),
    ])
    return VersionedTable.create(spark, root, schema, if_not_exists=True)


def signature_store_append(store, docs: DataFrame, num_hashes: int = 64,
                           shingle_n: int = 3) -> None:
    """Seed/extend the store with signatures of ``docs`` (no dedup)."""
    store.write(minhash_signatures(docs, num_hashes, shingle_n), "append")


def incremental_minhash_dedup(store, new_docs: DataFrame,
                              num_hashes: int = 64, bands: int = 16,
                              shingle_n: int = 3, threshold: float = 0.5,
                              rescore_texts: DataFrame | None = None,
                              commit: bool = True) -> DataFrame:
    """Dedup an incoming batch against the accumulated corpus via the
    signature store — the shape a 100 TB training pipeline actually
    runs: each ingest batch is signed once (row-local), LSH-joined
    against the store's band frame (shuffle is batch-sized, never
    corpus-sized on the probe side), and only surviving signatures are
    appended back, transactionally (the store is a VersionedTable, so
    concurrent ingest batches go through OCC conflict checks).

    Decision rule (deterministic, SQL-expressible, no transitive
    chaining): a new document is dropped iff it has a verified match
    in the store, or a verified match to a batch peer with a smaller
    doc_id. Documents with fewer than ``shingle_n`` tokens have no
    signature and are not judged (mirrors minhash_signatures).

    Verification of LSH candidates:
    - production path (``rescore_texts=None``): signature-agreement
      estimate — fraction of equal signature positions >= threshold.
      No text access at all.
    - exact path (``rescore_texts`` = (doc_id, text) covering both
      sides): exact n-gram Jaccard, giving the same oracle contract as
      minhash_lsh_pairs (with 32x2 banding, recall 1.0 to ~1e-18, the
      output equals the exact all-pairs decision — DuckDB-checkable).

    Returns one row per judged new document:
    (doc_id, n_store_dups, n_peer_dups, kept). When ``commit`` is
    true, kept signatures are appended to the store before returning
    (VersionedTable.append_batch, which sizes the files);
    the decision plan reads the store at its pre-append version, so
    re-executing the returned DataFrame is stable.

    The batch signature frame is persisted for the duration of the
    plan: it feeds the store probe, BOTH sides of the peer self-join,
    the decision base, and (on commit) the store append — five
    evaluations of the minhash pass without the cache. A batch is
    bounded by construction (one ingest micro/mini-batch, ~0.5 KB of
    signature per doc), so this is safe at corpus scale where caching
    the STORE side would not be. Measured at sf0.1: 6.5s -> 2.6s.
    """
    rows_per_band = num_hashes // bands
    snap_version = store.log.latest_version()
    store_sigs = store.read(version=snap_version).select(
        F.col("doc_id").alias("_store_id"), F.col("sig").alias("_store_sig"))
    sigs_new = minhash_signatures(new_docs, num_hashes, shingle_n).persist()

    banded_new = _banded(sigs_new, bands, rows_per_band)
    banded_store = _banded(
        store_sigs.select(F.col("_store_id").alias("doc_id"),
                          F.col("_store_sig").alias("sig")),
        bands, rows_per_band)

    cand_store = (
        banded_new.alias("a")
        .join(banded_store.alias("b"),
              (F.col("a.band") == F.col("b.band"))
              & (F.col("a.band_hash") == F.col("b.band_hash")))
        .select(F.col("a.doc_id").alias("new_id"),
                F.col("b.doc_id").alias("old_id"))
        .dropDuplicates(["new_id", "old_id"])
    )
    cand_peer = (
        banded_new.alias("a")
        .join(banded_new.alias("b"),
              (F.col("a.band") == F.col("b.band"))
              & (F.col("a.band_hash") == F.col("b.band_hash"))
              & (F.col("b.doc_id") < F.col("a.doc_id")))
        .select(F.col("a.doc_id").alias("new_id"),
                F.col("b.doc_id").alias("peer_id"))
        .dropDuplicates(["new_id", "peer_id"])
    )

    grams = None
    if rescore_texts is not None:
        # the exact-rescore variant (oracle/audit path — production
        # verifies by signature agreement and never touches text) joins
        # the gram frame four times; persist it so tokenization runs
        # once. Callers pass rescore_texts bounded to the docs under
        # audit, not a 100 TB corpus.
        grams = doc_grams(rescore_texts, shingle_n).persist()

        def _verify(cands: DataFrame, other: str) -> DataFrame:
            j = (
                cands.join(grams.select(F.col("doc_id").alias("new_id"),
                                        F.col("grams").alias("ga")), "new_id")
                .join(grams.select(F.col("doc_id").alias(other),
                                   F.col("grams").alias("gb")), other)
            )
            inter = F.size(F.array_intersect(F.col("ga"), F.col("gb")))
            union = F.size("ga") + F.size("gb") - inter
            return j.filter(F.round(inter / union, 4) >= threshold) \
                    .select("new_id", other)
    else:
        sig_of_new = sigs_new.select(F.col("doc_id").alias("new_id"),
                                     F.col("sig").alias("_sa"))

        def _verify(cands: DataFrame, other: str) -> DataFrame:
            if other == "old_id":
                side = store_sigs.select(F.col("_store_id").alias("old_id"),
                                         F.col("_store_sig").alias("_sb"))
            else:
                side = sigs_new.select(F.col("doc_id").alias("peer_id"),
                                       F.col("sig").alias("_sb"))
            eq = F.aggregate(
                F.zip_with("_sa", "_sb",
                           lambda x, y: (x == y).cast("int")),
                F.lit(0), lambda acc, v: acc + v)
            return (cands.join(sig_of_new, "new_id").join(side, other)
                    .filter(eq / num_hashes >= threshold)
                    .select("new_id", other))

    n_store = (_verify(cand_store, "old_id").groupBy("new_id")
               .agg(F.count(F.lit(1)).alias("n_store_dups")))
    n_peer = (_verify(cand_peer, "peer_id").groupBy("new_id")
              .agg(F.count(F.lit(1)).alias("n_peer_dups")))
    decisions = (
        sigs_new.select(F.col("doc_id").alias("new_id"), "sig")
        .join(n_store, "new_id", "left")
        .join(n_peer, "new_id", "left")
        .select(
            F.col("new_id").alias("doc_id"),
            F.coalesce("n_store_dups", F.lit(0)).alias("n_store_dups"),
            F.coalesce("n_peer_dups", F.lit(0)).alias("n_peer_dups"),
            "sig",
        )
        .withColumn("kept", (F.col("n_store_dups") == 0)
                    & (F.col("n_peer_dups") == 0))
    )
    if commit:
        # one row per batch doc with its signature — persist so the
        # append job and the caller's later execution of the returned
        # frame both skip re-running the candidate joins, and the
        # append takes the kept signatures straight from it
        decisions = decisions.persist()
        store.append_batch(decisions.filter("kept").select("doc_id", "sig"))
        # the append materialized the decisions cache; release the
        # scratch caches NOW. This matters beyond memory: Spark's
        # CacheManager substitutes cached subtrees into ANY later query
        # whose plan contains an identical subtree, so a lingering
        # doc_grams(corpus) cache would silently rewrite e.g.
        # ngram_jaccard's plan in the same session (observed: it broke
        # that query's pinned ReusedExchange shape in the test suite).
        sigs_new.unpersist()
        if grams is not None:
            grams.unpersist()
    return decisions.drop("sig")


def streaming_dedup_minhash(docs_stream: DataFrame, store_root: str,
                            checkpoint_dir: str, num_hashes: int = 64,
                            bands: int = 16, shingle_n: int = 3,
                            threshold: float = 0.5,
                            decisions_root: str | None = None,
                            optimize_every: int | None = None,
                            available_now: bool = False):
    """Near-dup dedup of a document STREAM through the persisted
    signature store — the streaming twin of incremental_minhash_dedup
    (as streaming_dedup_exact is of dedup_exact). Each micro-batch is
    signed, judged against store + smaller-doc_id batch peers with
    text-free signature-agreement verification, and survivors' sigs
    append to the store; per-doc decisions optionally append to a
    second audit table. Replayed batches re-converge: every replayed
    doc matches its own stored signature and is dropped, so the store
    never double-admits (idempotent at the content level).

    Scale shape: the store side of the LSH join is corpus-sized but
    slim (doc_id, band, band_hash — derived row-locally from the sig
    column); the probe side and both shuffles are batch-sized.

    ``optimize_every=N`` compacts the store every N batches: continuous
    small appends are the classic streaming small-file problem, and
    the store is scanned by every subsequent batch, so periodic
    OPTIMIZE keeps the probe-side scan from degrading to
    one-file-per-batch. (Compaction is itself an OCC commit; a
    concurrent ingest append rebases past it.)
    """
    def process(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        store = signature_store_init(spark, store_root, num_hashes)
        decisions = incremental_minhash_dedup(
            store, batch_df, num_hashes=num_hashes, bands=bands,
            shingle_n=shingle_n, threshold=threshold)
        if decisions_root is not None:
            from deltalake_poc_spark.tables import VersionedTable

            audit = VersionedTable.create(
                spark, decisions_root,
                decisions.withColumn("batch_id", F.lit(0).cast("long")).schema,
                if_not_exists=True)
            audit.write(decisions.withColumn(
                "batch_id", F.lit(batch_id).cast("long")), "append")
        else:
            decisions.count()  # force the store append
        if optimize_every and (batch_id + 1) % optimize_every == 0:
            store.optimize()

    writer = (docs_stream.writeStream.foreachBatch(process)
              .option("checkpointLocation", checkpoint_dir)
              .queryName("dedup-minhash"))
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def chunk_dedup(docs: DataFrame, chunk_tokens: int = 32,
                text_col: str = "text") -> DataFrame:
    """Cross-document CHUNK-level exact dedup with reconstruction
    (RefinedWeb-style: the unit of duplication is a paragraph/chunk,
    not the whole document — boilerplate shared by thousands of pages
    is removed everywhere except its first occurrence, while the rest
    of each document survives).

    Documents are cut into consecutive ``chunk_tokens``-token chunks;
    a chunk is kept iff it is the globally-first occurrence of its
    md5 (first by (doc_id, idx) — deterministic, engine-independent).
    Each document is then reassembled from its surviving chunks in
    order.

    Scale shape: chunking is row-local (one slice+concat per chunk, no
    re-tokenization per position); the first-occurrence rank is a
    window partitioned by the chunk HASH — md5 keys distribute
    uniformly, so the shuffle has no skew regardless of how hot a
    boilerplate chunk is (all copies of one chunk land in one
    partition, but a partition holds ~rows/parts distinct hashes).
    Reassembly is one groupBy(doc_id) whose per-group state is the
    document itself — bounded by max document size, same as any
    per-doc transform.

    Returns (doc_id, n_chunks, n_kept, dedup_text).
    """
    toks = (
        spread(docs.select("doc_id", F.col(text_col)))
        .select("doc_id", _tokens(text_col).alias("__toks"))
    )
    nchunks = F.ceil(F.size("__toks") / F.lit(chunk_tokens)).cast("int")
    # nchunks == 0 (null/empty text) must yield NO chunks: sequence(0,
    # -1) counts DOWN, which would fabricate two phantom '' chunks per
    # empty doc (md5('') collisions across docs) — same hazard
    # word_ngrams_col guards against above.
    chunk_arr = F.when(
        nchunks > 0,
        F.transform(
            F.sequence(F.lit(0), nchunks - 1),
            lambda i: F.concat_ws(
                " ",
                F.slice(F.col("__toks"),
                        i.cast("int") * chunk_tokens + 1,
                        chunk_tokens)),
        )).otherwise(F.array().cast("array<string>"))
    chunks = (
        toks
        .select("doc_id", F.posexplode(chunk_arr).alias("idx", "chunk"))
    )
    w = Window.partitionBy(F.md5("chunk")).orderBy("doc_id", "idx")
    ranked = chunks.withColumn("__rn", F.row_number().over(w))
    kept_struct = F.when(
        F.col("__rn") == 1, F.struct(F.col("idx"), F.col("chunk")))
    return (
        ranked.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_chunks"),
            F.sum(F.when(F.col("__rn") == 1, 1).otherwise(0))
             .cast("long").alias("n_kept"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(kept_struct)),
                    lambda s: s["chunk"]),
                " ").alias("dedup_text"),
        )
    )


def repeated_spans(docs: DataFrame, n: int = 8,
                   text_col: str = "text") -> DataFrame:
    """Cross-document repeated-SUBSTRING detection at arbitrary
    alignment (the Lee et al. "Deduplicating Training Data" exact-
    substring op): find maximal token spans that also occur elsewhere
    in the corpus — the boilerplate chunk_dedup misses when the copy
    is not aligned to fixed chunk boundaries.

    Method (hash proxy for a distributed suffix array): every n-token
    sliding window is keyed by md5 of its token string (row-local
    slice+concat over the materialized token array, the
    word_ngrams_col idiom); an occurrence is DUPLICATED iff it is not
    the globally-first occurrence of its window content (first by
    (doc_id, pos) — deterministic, engine-independent). Per document,
    duplicated window positions merge into maximal spans by the
    gaps-and-islands rule (a new span starts when pos > prev + n,
    i.e. the [pos, pos+n-1] intervals stop overlapping/touching).

    Scale shape: the only corpus-wide shuffle keys on the window HASH
    — uniform by construction, skew-free no matter how hot a
    boilerplate string is (chunk_dedup's argument); the island merge
    shuffles per-doc position lists, bounded by document length. No
    suffix array, no all-pairs: cost is O(total windows) through two
    hash-partitioned windows.

    Returns one row per document that contains at least one
    duplicated span: (doc_id, n_spans, dup_tokens, total_tokens,
    dup_ratio_micro) — all exact integers (ratio = dup*1e6 DIV
    total, gate-safe).
    """
    toks = (
        spread(docs.select("doc_id", F.col(text_col)))
        .select("doc_id", _tokens(text_col).alias("__toks"))
    )
    t = F.col("__toks")
    wins_arr = F.when(
        F.size(t) >= n,
        F.transform(
            F.sequence(F.lit(0), F.size(t) - n),
            lambda i: F.md5(
                F.concat_ws(" ", F.slice(t, i.cast("int") + 1, n)))),
    ).otherwise(F.array().cast("array<string>"))
    wins = (
        toks.select(
            "doc_id", F.size(t).cast("long").alias("total_tokens"),
            F.posexplode_outer(wins_arr).alias("pos", "__h"))
        .filter(F.col("__h").isNotNull())
    )
    w_first = Window.partitionBy("__h").orderBy("doc_id", "pos")
    dups = (wins.withColumn("__rn", F.row_number().over(w_first))
            .filter(F.col("__rn") > 1))
    w_doc = Window.partitionBy("doc_id").orderBy("pos")
    prev = F.lag("pos").over(w_doc)
    island = F.sum(
        F.when(prev.isNull() | (F.col("pos") > prev + n), 1).otherwise(0)
    ).over(w_doc.rowsBetween(Window.unboundedPreceding, Window.currentRow))
    spans = (
        dups.withColumn("__isl", island)
        .groupBy("doc_id", "total_tokens", "__isl")
        .agg(F.min("pos").alias("__s"),
             (F.max("pos") + n - 1).alias("__e"))
    )
    return (
        spans.groupBy("doc_id", "total_tokens")
        .agg(F.count(F.lit(1)).cast("long").alias("n_spans"),
             F.sum(F.col("__e") - F.col("__s") + 1).cast("long")
              .alias("dup_tokens"))
        .select("doc_id", "n_spans", "dup_tokens", "total_tokens",
                F.expr("dup_tokens * CAST(1000000 AS BIGINT)"
                       " DIV total_tokens").alias("dup_ratio_micro"))
    )


def source_overlap(docs: DataFrame, n: int = 3,
                   strata_col: str = "source",
                   max_df: int | None = None) -> DataFrame:
    """Corpus governance: pairwise n-gram overlap matrix between
    sources/domains — which feeds are near-copies of each other, which
    are independent. For every source pair (a < b): the count of
    distinct grams they share and the Jaccard of their gram sets.

    Scale shape: documents collapse to DISTINCT (source, gram) first —
    the self-join is over source-level vocabularies, not documents, so
    its size is bounded by vocabulary x sources regardless of corpus
    row count. The join keys on gram; ``max_df`` (in SOURCES per gram)
    caps universal boilerplate grams exactly like the document-level
    inverted indexes cap hot grams — a gram in every source
    contributes sources^2 join rows and zero discriminative signal.
    """
    grams = (
        _explode_posting(
            doc_grams(docs, n).join(
                docs.select("doc_id", F.col(strata_col).alias("__src")),
                "doc_id"),
            "grams", "gram", keys=("doc_id", "__src"))
        .select("__src", "gram")
        .distinct()
    )
    if max_df is not None:
        w = Window.partitionBy("gram")
        grams = (grams.withColumn("__df", F.count(F.lit(1)).over(w))
                 .filter(F.col("__df") <= max_df).drop("__df"))
    sizes = grams.groupBy("__src").agg(
        F.count(F.lit(1)).cast("long").alias("__n"))
    a = grams.select(F.col("__src").alias("src_a"), "gram")
    b = grams.select(F.col("__src").alias("src_b"), "gram")
    shared = (
        a.join(b, "gram")
        .filter(F.col("src_a") < F.col("src_b"))
        .groupBy("src_a", "src_b")
        .agg(F.count(F.lit(1)).cast("long").alias("shared_grams"))
    )
    sa = sizes.select(F.col("__src").alias("src_a"),
                      F.col("__n").alias("__na"))
    sb = sizes.select(F.col("__src").alias("src_b"),
                      F.col("__n").alias("__nb"))
    # Exact integer outputs (shared, na, nb, jaccard_micro) so the
    # driver gate never hashes a rounded double quotient (Spark
    # HALF_UP vs DuckDB rounding can diverge on boundary values);
    # jaccard_micro = shared * 1e6 DIV union is pure int64 floor
    # division, identical in any engine. The double jaccard stays for
    # interactive callers — UNROUNDED, so it is honestly a float.
    union = F.col("__na") + F.col("__nb") - F.col("shared_grams")
    return (
        shared.join(F.broadcast(sa), "src_a").join(F.broadcast(sb), "src_b")
        .select(
            "src_a", "src_b", "shared_grams",
            F.col("__na").alias("grams_a"),
            F.col("__nb").alias("grams_b"),
            F.expr("shared_grams * CAST(1000000 AS BIGINT)"
                   " DIV (__na + __nb - shared_grams)")
             .alias("jaccard_micro"),
            (F.col("shared_grams") / union).alias("jaccard"))
    )
