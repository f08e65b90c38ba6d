"""Deterministic corpus sampling / domain mixing.

A 100 TB training-data pipeline needs REPRODUCIBLE sampling: re-running
the job (or re-sharding the cluster) must select the same documents.
Random sampling (``df.sample``) is seed-and-partitioning dependent;
instead we hash the stable key with a Lehmer-style integer mix and keep
rows whose bucket falls under the rate — row-local, no shuffle, no
state, and the SAME rows come back from any engine that can do integer
arithmetic (the DuckDB oracle recomputes the selection exactly).

The mix is two QUADRATIC rounds mod the Mersenne prime 2^31-1 (h ->
h^2 + a*h + c): squares of reduced values stay inside a 64-bit long
(no ANSI overflow). Quadratic matters — an affine (Lehmer-style) mix
makes the sample a rotated interval of the key space, so two salts
give systematically disjoint (not independent) selections; with the
quadratic rounds, salted samples overlap at the expected p^2 rate
(train/validation splits behave independently).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

LEHMER_MOD = 2147483647  # 2^31 - 1


def key_bucket(key: Column | str, salt: int = 0) -> Column:
    """Deterministic bucket in [0, 2^31-1) from an integer key.
    Oracle mirror (plain SQL, M = 2147483647)::

        WITH h1 AS ((key + salt) % M)            -- reduce
        h2 = (h1*h1 + 48271*h1 + 11) % M         -- quadratic round
        bucket = (h2*h2 + 48271*h2 + 17) % M     -- quadratic round
    """
    k = key if isinstance(key, Column) else F.col(key)
    M = LEHMER_MOD
    h = (k + F.lit(salt)) % M
    h = (h * h + F.lit(48271) * h + F.lit(11)) % M
    h = (h * h + F.lit(48271) * h + F.lit(17)) % M
    return h


def deterministic_sample(df: DataFrame, rate: float,
                         key_col: str = "doc_id",
                         salt: int = 0) -> DataFrame:
    """Keep ~rate of rows, selected purely by key hash — reproducible
    across runs, partitionings, and engines."""
    threshold = int(rate * LEHMER_MOD)
    return df.filter(key_bucket(key_col, salt) < threshold)


def stratified_sample(df: DataFrame, rates: dict[str, float],
                      strata_col: str, key_col: str = "doc_id",
                      default_rate: float = 0.0,
                      salt: int = 0) -> DataFrame:
    """Domain mixing: per-stratum keep rates (e.g. up-weight curated
    sources, down-weight crawl) with the same deterministic selection.
    ``rates`` is a literal map (strata are few — sources, languages);
    each stratum's threshold compiles to a CASE branch, so the filter
    stays row-local and fully pushed down."""
    threshold = None
    for value, rate in sorted(rates.items()):
        cond = F.col(strata_col) == value
        lit = F.lit(int(rate * LEHMER_MOD))
        threshold = (F.when(cond, lit) if threshold is None
                     else threshold.when(cond, lit))
    default = F.lit(int(default_rate * LEHMER_MOD))
    threshold = default if threshold is None else threshold.otherwise(default)
    return df.filter(key_bucket(key_col, salt) < threshold)


def mixture_sample(docs: DataFrame, token_budget: int,
                   weights: dict[str, int] | None = None,
                   strata_col: str = "source", key_col: str = "doc_id",
                   text_col: str = "text", salt: int = 0) -> DataFrame:
    """Domain-mixture sampling to a global TOKEN budget.

    Where ``stratified_sample`` takes per-stratum rates as given, this
    op derives them from the data: each stratum (source/domain) gets a
    target token allocation — ``token_budget * w_s / sum(w)`` for the
    integer ``weights`` map, or an equal share when ``weights`` is None
    — and its acceptance rate becomes ``min(1, target_s / observed
    tokens in s)``. Documents are then kept by the same deterministic
    key-hash as every other sampler here, so the mixture is
    reproducible across runs, shardings, and engines. This is the
    static-weights half of DoReMi-style data mixing (weights chosen
    offline, applied exactly at scan time).

    Scale shape: one tiny aggregate (per-stratum token totals — strata
    are sources/languages, O(10..1000) rows), broadcast-joined back to
    the corpus, then a row-local filter. All threshold arithmetic is
    64-bit integer with a rescaling step that keeps every intermediate
    below 2^62 at ANY budget (trillions of tokens included), so the
    DuckDB oracle reproduces the selection bit-for-bit.

    Returns the sampled rows as (key, strata, n_tokens).
    """
    M = LEHMER_MOD
    base = docs.select(
        F.col(key_col).alias("__key"),
        F.col(strata_col).alias("__strata"),
        F.size(F.split(F.trim(F.col(text_col)), " ")).cast("long")
         .alias("n_tokens"),
    )
    totals = base.groupBy("__strata").agg(
        F.sum("n_tokens").alias("__total"))
    if weights is not None:
        wsum = sum(weights.values())
        target = None
        for value, w in sorted(weights.items()):
            lit = F.lit(int(token_budget * w // wsum))
            cond = F.col("__strata") == value
            target = (F.when(cond, lit) if target is None
                      else target.when(cond, lit))
        target = target.otherwise(F.lit(0))
        targets = totals.withColumn("__target", target)
    else:
        # equal share across the strata observed in the data; the count
        # is a window over the already-tiny aggregate (no extra pass)
        from pyspark.sql import Window
        n = F.count(F.lit(1)).over(Window.partitionBy())
        targets = totals.withColumn("__n", n).withColumn(
            "__target",
            F.expr(f"CAST({int(token_budget)} AS BIGINT) DIV __n"))
    # Overflow-safe exact threshold: the naive ``target * M DIV total``
    # wraps int64 once a stratum's target exceeds ~2^63/M ≈ 4.3e9 tokens
    # — real training budgets (trillions of tokens) hit that. Clamp the
    # target at the observed total first (rate saturates at 1 anyway),
    # then rescale BOTH sides by ``scale = 1 + total DIV M`` so the
    # multiplicand stays under 2^31: (tgt DIV scale) < M, so
    # (tgt DIV scale) * M < 2^62. For total < M (every stratum at test
    # scale) scale == 1 and the arithmetic is bit-identical to the
    # naive formula; for larger strata the rescaling's relative error
    # is ≤ 2*scale/total ≈ 2/M ≈ 1e-9 — and the DuckDB oracle mirrors
    # the SAME formula, so engine agreement stays exact at any budget.
    thresholds = targets.withColumn(
        "__thresh",
        F.least(
            F.lit(M).cast("long"),
            F.expr(
                f"(least(__target, __total) DIV (1 + __total DIV {M}))"
                f" * CAST({M} AS BIGINT)"
                f" DIV greatest(CAST(1 AS BIGINT), __total DIV (1 + __total DIV {M}))")))
    out = (
        base.join(F.broadcast(thresholds.select("__strata", "__thresh")),
                  "__strata")
        .filter(key_bucket("__key", salt) < F.col("__thresh"))
        .select(F.col("__key").alias(key_col),
                F.col("__strata").alias(strata_col), "n_tokens")
    )
    return out


# ------------------------------------------------------------------ DSIR

DSIR_HASH_BASE = 139       # matches dedup.py gram_hash (SQL-recomputable)
DSIR_HASH_MOD = 2147483647  # PORTABLE_HASH_MOD


def dsir_weights(docs: DataFrame, target_source: str,
                 n_buckets: int = 1024,
                 id_col: str = "doc_id", text_col: str = "text",
                 source_col: str = "source",
                 rounded: bool = True) -> DataFrame:
    """DSIR — Data Selection via Importance Resampling (Xie et al.
    2023, arXiv:2302.03169, public paper): score every document by how
    much more likely its hashed n-gram bag is under a TARGET domain's
    unigram+bigram distribution than under the raw corpus's.

    log w(x) = Σ_gram [ ln p_target(bucket(gram)) − ln p_raw(bucket) ]

    with add-1-smoothed bucket probabilities p(b) = (c_b + 1)/(total +
    B). This is the paper's exact recipe (hashed n-gram features,
    bag-of-buckets product of Bernoulli/multinomial ratios), which it
    scales to trillion-token corpora precisely because of the shape
    used here:

    - ONE map-side-combinable groupBy builds the raw+target bucket
      profiles — at most ``n_buckets`` rows out, KB-sized at any
      corpus size (the only shuffle in the whole operator);
    - the per-bucket log-ratio table rides back as ONE broadcast row
      (the same broadcast-cells idiom as pipeline/cluster.py — data,
      not a B-literal expression tree);
    - per-document scoring is a row-local fold — a map-only pass, so
      the scoring stage is embarrassingly parallel at 100 TB.

    Cross-engine determinism: grams are hashed with the 31-bit
    polynomial rolling hash (base 139 mod 2³¹−1 — the dedup.py
    gram_hash convention, recomputable in SQL); the per-document sum
    folds the per-occurrence log-ratios in SORTED-bucket order
    (left-assoc from 0.0), so both engines add the same doubles in
    the same sequence; ln() may differ by ≤1 ulp between engines,
    which ROUND(·, 4) absorbs — pinned by the same margin-invariant
    test tf_idf uses (tests/test_entry_oracle.py).

    Returns (id, source, dsir_logw) — or the unrounded ``dsir_raw``
    when ``rounded=False`` (for the margin test)."""
    B, MOD, BASE = int(n_buckets), DSIR_HASH_MOD, DSIR_HASH_BASE
    spark = docs.sparkSession

    toks = F.split(F.trim(F.col(text_col)), " ")
    bigrams = F.when(
        F.size(toks) >= 2,
        F.zip_with(F.slice(toks, 1, F.size(toks) - 1),
                   F.slice(toks, 2, F.size(toks) - 1),
                   lambda a, b: F.concat(a, F.lit(" "), b))
    ).otherwise(F.array().cast("array<string>"))
    grams = F.concat(toks, bigrams)

    def bucket(g: Column) -> Column:
        return F.aggregate(
            F.split(g, ""), F.lit(0).cast("long"),
            lambda acc, c: (acc * BASE + F.ascii(c)) % MOD) % B

    base = docs.select(F.col(id_col), F.col(source_col),
                       F.transform(grams, bucket).alias("__bs"))

    # profile: ONE shuffle, ≤B rows out, map-side combined. The
    # posting explode goes through _explode_posting (explode_outer +
    # output-column filter) so InferFiltersFromGenerate cannot clone
    # the full tokenize+hash transform into a pre-Generate scan filter
    # (the documented 2-3x generator tax).
    from .dedup import _explode_posting

    prof = (_explode_posting(base, "__bs", "__b", keys=(source_col,))
            .select("__b", (F.col(source_col) == target_source)
                    .cast("long").alias("__t"))
            .groupBy("__b")
            .agg(F.count(F.lit(1)).alias("__cr"), F.sum("__t").alias("__ct")))
    # dense per-bucket log-ratio array in bucket order; R/T totals via
    # a whole-frame window over the already-tiny aggregate (no extra
    # pass). Buckets absent from the profile are unreachable by any
    # document (every doc gram IS in the raw profile), so the LEFT
    # join default only keeps positions aligned.
    from pyspark.sql import Window
    w_all = Window.partitionBy()
    ratio = (spark.range(B).select(F.col("id").alias("__b"))
             .join(prof, "__b", "left")
             .select("__b", F.coalesce("__cr", F.lit(0)).alias("__cr"),
                     F.coalesce("__ct", F.lit(0)).alias("__ct"))
             .withColumn("__R", F.sum("__cr").over(w_all))
             .withColumn("__T", F.sum("__ct").over(w_all))
             .select("__b", F.log(
                 ((F.col("__ct") + 1).cast("double")
                  / (F.col("__T") + B).cast("double"))
                 / ((F.col("__cr") + 1).cast("double")
                    / (F.col("__R") + B).cast("double"))).alias("__w")))
    warr = ratio.agg(F.transform(
        F.array_sort(F.collect_list(F.struct("__b", "__w"))),
        lambda s: s["__w"]).alias("__wa"))

    # row-local scoring: canonical (sorted-bucket, left-assoc) fold
    logw = F.aggregate(
        F.array_sort(F.col("__bs")), F.lit(0.0),
        lambda acc, b: acc + F.element_at(F.col("__wa"),
                                          b.cast("int") + 1))
    out_col = (F.round(logw, 4).alias("dsir_logw") if rounded
               else logw.alias("dsir_raw"))
    return (base.crossJoin(F.broadcast(warr))
            .select(F.col(id_col), F.col(source_col), out_col))


def dsir_select(docs: DataFrame, target_source: str, budget: int,
                n_buckets: int = 1024, id_col: str = "doc_id",
                text_col: str = "text",
                source_col: str = "source") -> DataFrame:
    """The ``budget`` most target-like documents by DSIR weight
    (ties: lowest id). orderBy+limit compiles to TakeOrderedAndProject
    — per-partition top-k then a k-row merge, never a global sort —
    so selection stays distributed at any corpus size (the O1-O4
    top-k shape; at 100 TB one would typically instead threshold on a
    weight quantile, a row-local filter — both are linear)."""
    w = dsir_weights(docs, target_source, n_buckets=n_buckets,
                     id_col=id_col, text_col=text_col,
                     source_col=source_col)
    return (w.orderBy(F.col("dsir_logw").desc(), F.col(id_col))
            .limit(int(budget)))


# ---------------------------------------------------------- splitting

def dataset_split(df: DataFrame, weights: tuple[int, ...] = (90, 5, 5),
                  names: tuple[str, ...] = ("train", "val", "test"),
                  key_col: str = "doc_id", salt: int = 17) -> DataFrame:
    """Deterministic train/val/test assignment: bucket the stable key
    with the quadratic hash (salted so it is independent of the
    sampling operators' selections) and cut cumulative integer-weight
    thresholds. Row-local — no shuffle, no state; re-running the job,
    re-sharding the cluster, or re-deriving the split in another
    engine yields the identical assignment. Adds a ``split`` column."""
    if len(weights) != len(names) or not weights:
        raise ValueError("weights and names must align")
    total = int(sum(weights))
    b = key_bucket(key_col, salt) % total
    expr = None
    cum = 0
    for w, nm in zip(weights, names):
        cum += int(w)
        expr = (F.when(b < cum, nm) if expr is None
                else expr.when(b < cum, nm))
    return df.withColumn("split", expr)


def leakage_safe_split(docs: DataFrame, pairs: DataFrame,
                       weights: tuple[int, ...] = (90, 5, 5),
                       names: tuple[str, ...] = ("train", "val", "test"),
                       id_col: str = "doc_id",
                       salt: int = 17) -> DataFrame:
    """Dedup-AWARE dataset split: a plain per-document hash split
    leaks near-duplicates across the train/test boundary (the classic
    contamination bug — the model 'memorizes' test documents from
    their training-set near-copies). Here every near-dup component
    (connected components over ``pairs``) is split BY ITS KEEPER's
    hash, so whole duplicate groups land in one split and zero pairs
    straddle splits BY CONSTRUCTION — the ``split_safety`` gate query
    recomputes the crossing count (and the oracle recomputes it from
    the transitive closure) to hold that at 0.

    Scale shape: the pair set and component assignment are the same
    machinery the dedup operators already run at corpus scale
    (bounded driver union-find / distributed large-star/small-star);
    the split itself is one hash on the keeper column — row-local.

    Returns (id, keep_doc_id, split)."""
    from .dedup import dedup_groups

    groups = dedup_groups(docs, pairs)
    return dataset_split(groups.select(id_col, "keep_doc_id"),
                         weights=weights, names=names,
                         key_col="keep_doc_id", salt=salt)
