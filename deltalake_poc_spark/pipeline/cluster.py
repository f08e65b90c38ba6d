"""Distributed k-means clustering and semantic (embedding-space)
deduplication.

SemDeDup-style semantic dedup (Abbas et al. 2023, arXiv:2303.09540 —
public paper): cluster the corpus's embeddings with k-means, then
search for near-duplicates ONLY within each cluster and keep one
representative per duplicate group. Clustering is the blocking
structure that makes embedding dedup linear: within-cluster pairing
costs Σ n_c² ≈ n·(n/k), so with k grown proportionally to the corpus
(the paper uses k ≈ n/10⁴) the pair stage stays O(n·avg_cluster) —
never the all-pairs O(n²). The reference engine has no clustering
operator; this is part of the training-data surface layered on top
(SURVEY.md §6).

The k-means here is Lloyd's algorithm in the classic Spark shape
(the same aggregate-to-driver loop MLlib's KMeans uses): each
iteration is ONE map-side-combinable groupBy producing k·dim rows of
exact (count, sum); only those longs ever reach the driver — KB per
iteration at any corpus size. Assignment is a pure row-local
expression (higher-order-function squared-distance folds against k
literal centroids — JVM-side over primitive arrays), zero Python.

Determinism contract (what lets DuckDB hash-match an ITERATIVE
algorithm): embeddings are quantized ONCE to integers
(floor(x·2²⁰ + 0.5), the same exact-integer convention as
analytics/money.py), so

- centroid numerators are exact int64 sums — associative, order-free,
  identical under any partitioning or engine;
- centroids are the exact rationals (sums, count); the only floating
  point is sum/count and the distance fold, both evaluated
  left-to-right over the same integers in both engines — IEEE doubles
  are deterministic when the operand ORDER is fixed;
- ties in the argmin go to the lowest cluster id on both sides
  (array_position first-min here, ROW_NUMBER(ORDER BY d, cid) in the
  oracle);
- initial centroids are the k lowest-id vectors (no RNG);
- the within-cluster cosine is an exact int64 dot product over the
  quantized vectors divided by exact-integer-rooted norms.

Scale notes for 100 TB: the quantize/assign maps are scan-local; the
per-iteration shuffle moves (cluster, 64 longs) rows with map-side
partial aggregation — k·dim·cores bytes, not data-sized; the
within-cluster self-join shuffles once on cluster id (size the
cluster count so clusters stay ~10³-10⁴ members); duplicate-group
closure reuses :func:`..dedup.connected_components` (bounded driver
union-find with a distributed large-star/small-star fallback).

Because SemDeDup grows k with the corpus (k ≈ n/10⁴), assignment cost
dominates once k is large, and the flat HOF argmin pays interpreted
lambda steps for every one of its k·dim operations per row (measured
~250 s per assignment pass at k=800 over 200k vectors, SCALE.md).
At ``ARROW_MIN_K`` centroids and above, :func:`with_cluster` therefore
switches to an Arrow-batched vectorized brute force that performs the
IDENTICAL arithmetic in the identical order (dim-ascending
accumulation, first-min ties) at memory bandwidth — bit-identical
results, so the DuckDB oracle contract below is untouched; the
centroid matrix is a task-local k·dim float64 array, never
data-sized. The two modes are interchangeable at any point because
neither changes a single output bit.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from deltalake_poc_spark.exprlit import lit_double_matrix

QUANT_SCALE = 1 << 20  # float -> exact integer grid; 2^20·2^23 docs
# of ±1-ish components keeps every sum far inside int64

ARROW_MIN_K = 64  # below this the flat k-literal argmin is cheaper
# than an Arrow round trip (and the oracle-gated queries at k=8 keep
# their historical plan shape)


def quantize_expr(vec_col: Column | str) -> Column:
    """array<float> -> array<long> on the 2^20 grid, row-local.

    floor(x·S + 0.5) — identical to the money convention: never
    ROUND() a double (engines disagree on .5 at even), always
    floor(+0.5)."""
    c = vec_col if isinstance(vec_col, Column) else F.col(vec_col)
    return F.transform(
        c, lambda x: F.floor(x.cast("double") * QUANT_SCALE + F.lit(0.5))
        .cast("long"))


def _centroid_lit(centroids: list[tuple[list[int], int]]) -> Column:
    """k×dim literal double array of centroid values s_d/n.

    The division happens in Python — Python float division IS IEEE
    double division, bit-identical to the oracle's CAST(s AS
    DOUBLE)/n over the same exact integers."""
    return lit_double_matrix([[s / n for s in sums]
                              for sums, n in centroids])


def assign_expr(qcol: Column, centroids: list[tuple[list[int], int]]) -> Column:
    """Nearest-centroid id (0-based) for a quantized vector column.

    Formulated with higher-order functions (transform/zip_with/
    aggregate) rather than an unrolled k×dim expression on purpose:
    the unrolled form put ~500 arithmetic nodes into whole-stage
    codegen and paid ~7 s of janino compilation PER distinct plan
    (each Lloyd iteration is a distinct plan — different centroid
    literals), which dominated wall time at every test scale. The HOF
    form is evaluated over primitive arrays with a constant-size
    plan; the fold order (index-ascending, left-assoc) is identical,
    so the doubles — and the oracle hash — are unchanged.

    First-min tie rule: array_position returns the FIRST index
    holding the minimum, i.e. the lowest cluster id — mirrored by the
    oracle's ROW_NUMBER(ORDER BY d ASC, cid ASC)."""
    dists = F.transform(
        _centroid_lit(centroids),
        lambda c: F.aggregate(
            F.zip_with(qcol, c,
                       lambda x, y: (x.cast("double") - y)
                       * (x.cast("double") - y)),
            F.lit(0.0), lambda acc, t: acc + t))
    return (F.array_position(dists, F.array_min(dists)) - 1).cast("int")


def _assign_arrow(df: DataFrame, centroids: list[tuple[list[int], int]],
                  qname: str = "__q", out: str = "__cl",
                  exact_order: bool = True) -> DataFrame:
    """Arrow-batched brute-force assignment — the large-k production
    path. BIT-IDENTICAL to the flat fold: squared-difference terms are
    elementwise IEEE float64 ops accumulated in the SAME dim-ascending
    left-assoc order (``acc += diff²`` per dimension — numpy never
    reorders an explicit accumulation loop and fuses no FMA), argmin
    takes the FIRST minimum = lowest cid, and the quantized int64
    inputs are exactly representable as float64 (|q| ≈ 2²⁰ ≪ 2⁵³).

    Why this beats the JVM path at large k: the HOF fold interprets
    k·dim lambda steps per row (~µs-scale each — measured ~250 s per
    assignment pass at k=800 over 200k rows). The vectorized loop does
    the same arithmetic at memory bandwidth: the centroid matrix is a
    task-local k·dim float64 array (50 MB even at k=10⁵), and row
    blocks are sized so the rows×k accumulator stays ≤ ~256 MB.

    ``exact_order=False`` (the ``gemm`` mode) swaps the explicit
    dim-ascending accumulation for the BLAS expansion
    ``||q||² - 2·q·Cᵀ + ||C||²`` — one dgemm per row block instead of
    ``dim`` full passes over the rows×k panel, so it runs at compute
    rather than memory bandwidth (measured on the sf100 minibatch
    tier: see SCALE_RUN_MB_ASSIGN.json). The distances differ from
    the exact-order fold only by IEEE reassociation (ulps), so the
    argmin can flip ONLY on reassociation-scale near-ties between two
    centroids — never acceptable for the bit-exact oracle gates
    (kmeans_clusters / kmeans_ivf_clusters pin the fold order), fine
    for the sketch regime whose centroids are themselves approximate
    (minibatch fit). Exactness of the ranking is otherwise the same
    brute force — every centroid is still evaluated."""
    import numpy as np

    means = np.asarray([[s / n for s in sums] for sums, n in centroids],
                       dtype=np.float64)
    k, dim = means.shape
    max_rows = max(1, (32 << 20) // k)  # rows×k accumulator ≤ 256 MB
    out_schema = T.StructType(list(df.schema.fields)
                              + [T.StructField(out, T.IntegerType(), False)])
    means_t = means.T.copy()                      # dim×k, gemm layout
    c_sq = (means * means).sum(axis=1)            # ||C||² per centroid

    def fn(batches):
        for pdf in batches:
            n = len(pdf)
            if n == 0:
                yield pdf.assign(**{out: np.empty(0, dtype=np.int32)})
                continue
            q = np.stack(pdf[qname].to_numpy()).astype(np.float64)
            cls = np.empty(n, dtype=np.int32)
            for lo in range(0, n, max_rows):
                hi = min(lo + max_rows, n)
                if exact_order:
                    acc = np.zeros((hi - lo, k))
                    for d in range(dim):
                        diff = q[lo:hi, d, None] - means[None, :, d]
                        acc += diff * diff
                else:
                    # ||q||² is constant per row — argmin ignores it
                    acc = q[lo:hi] @ means_t
                    acc *= -2.0
                    acc += c_sq[None, :]
                cls[lo:hi] = acc.argmin(1)
            yield pdf.assign(**{out: cls})

    return df.mapInPandas(fn, schema=out_schema)


def with_cluster(df: DataFrame, centroids: list[tuple[list[int], int]],
                 qname: str = "__q", out: str = "__cl",
                 mode: str = "auto") -> DataFrame:
    """``df`` + nearest-centroid column. ``flat`` and ``arrow`` produce
    bit-identical values (same fold order, same first-min tie rule) —
    the mode only picks the execution strategy:

    - ``flat``: k·dim-literal HOF argmin — fastest for small k, and
      the historical plan shape the k=8 oracle gates pin;
    - ``arrow``: Arrow-batched vectorized brute force — the large-k
      production path (see :func:`_assign_arrow`);
    - ``auto``: flat below ``ARROW_MIN_K``, arrow at or above.

    Exception to the bit-identical rule: ``gemm`` — the arrow path
    with BLAS distance expansion (see :func:`_assign_arrow`). Same
    brute-force ranking but IEEE-reassociated sums, so assignments
    can differ on reassociation-scale near-ties; reserved for the
    sketch regime (minibatch-fitted centroids) where no bit-exact
    oracle exists and the O(n·k·dim) pass is the dominant cost."""
    if mode == "auto":
        mode = "flat" if len(centroids) < ARROW_MIN_K else "arrow"
    if mode == "flat":
        return df.withColumn(out, assign_expr(F.col(qname), centroids))
    if mode == "arrow":
        return _assign_arrow(df, centroids, qname=qname, out=out)
    if mode == "gemm":
        return _assign_arrow(df, centroids, qname=qname, out=out,
                             exact_order=False)
    raise ValueError(f"unknown assignment mode {mode!r}")


def kmeans_fit(emb: DataFrame, k: int = 8, iters: int = 2,
               id_col: str = "vec_id",
               vec_col: str = "embedding") -> list[tuple[list[int], int]]:
    """Lloyd's k-means over quantized embeddings; returns the exact
    rational centroids as (per-dimension int64 sums, member count).

    Deterministic by construction: init = the k lowest-``id_col``
    vectors (collect of a TakeOrdered — k rows, bounded); each of the
    ``iters`` rounds runs one distributed groupBy whose k·dim-long
    result is the only data the driver sees. A cluster that loses all
    members keeps its previous centroid (the oracle mirrors this with
    a LEFT JOIN + COALESCE)."""
    q = emb.select(F.col(id_col).alias("__id"),
                   quantize_expr(vec_col).alias("__q"))
    # fit-scoped cache (the ivf_build pattern): the init TakeOrdered
    # and each of the ``iters`` groupBy rounds are eager collects
    # INSIDE this function, and each would otherwise replay
    # scan + quantize. Released in ``finally`` so no cached subtree
    # leaks into the session's later plans (CacheManager would
    # substitute it into any query containing an identical subtree).
    q = q.persist()
    try:
        init = q.orderBy("__id").limit(k).collect()
        if not init:
            raise ValueError("kmeans_fit: empty input")
        cents = [(list(r["__q"]), 1) for r in init]
        k = len(cents)  # fewer rows than k: cluster over what exists
        dim = len(cents[0][0])
        # per-dimension exact int64 sums as dim narrow aggregates in
        # ONE map-side-combinable groupBy (k rows out; Catalyst still
        # partial-aggregates each sum — the array wraps them only in
        # the final projection). NOT a posexplode over __q: a Generate
        # whose required output includes the assignment column
        # re-evaluates that whole HOF fold per exploded row — dim× the
        # work (measured 10 s vs 1.6 s at sf0.1). The sums ride as ONE
        # array expression built from SQL text: dim separate
        # F.sum(...).alias(...) Columns cost ~8 py4j round trips each,
        # ~0.5 s of driver time PER LLOYD ROUND at dim=64 (the exprlit
        # lesson applied to aggregates).
        sums_expr = F.expr(
            "array(" + ",".join(f"sum(__q[{d}])" for d in range(dim))
            + ") AS __s")
        for _ in range(iters):
            upd = (with_cluster(q, cents).select("__cl", "__q")
                   .groupBy("__cl")
                   .agg(F.count(F.lit(1)).alias("__n"), sums_expr))
            got = {int(r["__cl"]): r for r in upd.collect()}  # <= k rows
            cents = [
                ([int(s) for s in got[j]["__s"]], int(got[j]["__n"]))
                if j in got else cents[j]
                for j in range(k)
            ]
    finally:
        q.unpersist()
    return cents


def kmeans_fit_minibatch(emb: DataFrame, k: int = 8,
                         sample_size: int = 100_000,
                         batch_size: int = 4096,
                         steps: int | None = None,
                         seed: int = 7,
                         id_col: str = "vec_id",
                         vec_col: str = "embedding",
                         ) -> list[tuple[list[int], int]]:
    """Minibatch k-means fit (Sculley, WWW 2010) — the regime the
    measured k∝n wall demands (SCALE.md round-7: flat Lloyd fit is
    O(n·k·dim) per iteration = ~100x fit cost per 10x corpus when k
    grows with n; the 2M-vector / k=8000 tier did not finish in 50
    minutes). The Spark-first decomposition: FITTING is a sketch
    problem — one distributed pass draws a bounded deterministic
    sample (TakeOrdered over xxhash64(id, seed): ~sample_size·dim·8
    bytes to the driver, data-size-free thereafter), the minibatch
    SGD loop runs vectorized in numpy on that sample, and the
    expensive distributed work stays where it belongs: the single
    assignment pass over the corpus (kmeans_assign /
    semantic_neardup_pairs, unchanged).

    Deterministic: the sample is the sample_size lowest hash values
    (ties broken by id), batches come from a seeded RandomState, and
    every arithmetic step is driver-local float64. Returns the same
    (per-dimension int64 sums, member count) rational-centroid format
    as kmeans_fit (sums = round(center·count) on the quantized grid),
    so every consumer — with_cluster, semantic_neardup_pairs,
    hard_negatives(centroids=...) — is format-compatible. The
    centroids APPROXIMATE the full-corpus Lloyd fixed point (that is
    the entire point); quality is pinned by tests on separated-blob
    data, not bit-equality."""
    import numpy as np

    q = emb.select(F.col(id_col).alias("__id"),
                   quantize_expr(vec_col).alias("__q"))
    # two-phase deterministic sample: a row-local hash-threshold
    # filter first (a bare orderBy(hash).limit(S) is a TakeOrdered
    # that ships EVERY partition's local top-S to the driver —
    # measured 1 GB+ at 2M rows x 30 partitions), then the ordered
    # limit over the ~3S survivors
    n_total = q.count()
    u = F.pmod(F.xxhash64(F.col("__id"), F.lit(seed)),
               F.lit(1_000_000))
    if n_total > 3 * sample_size:
        cut = int(3_000_000 * sample_size / n_total) + 1
        q = q.filter(u < cut)
    sample_rows = (q.orderBy(u.alias("__u"), F.col("__id"))
                   .limit(sample_size).collect())
    if not sample_rows:
        raise ValueError("kmeans_fit_minibatch: empty input")
    x = np.asarray([r["__q"] for r in sample_rows], dtype=np.float64)
    n, dim = x.shape
    k = min(k, n)
    # init: k lowest ORIGINAL ids within the sample (order-stable
    # across sample_size changes for the ids that stay sampled)
    order = np.argsort(np.asarray([r["__id"] for r in sample_rows]))
    centers = x[order[:k]].copy()
    counts = np.zeros(k, dtype=np.int64)
    rng = np.random.RandomState(seed)
    if steps is None:
        steps = max(50, 3 * n // max(1, batch_size))
    for _ in range(steps):
        batch = x[rng.randint(0, n, size=min(batch_size, n))]
        # nearest center per batch row: ||b||² - 2 b·C + ||C||²
        d = (-2.0 * batch @ centers.T
             + (centers * centers).sum(axis=1)[None, :])
        nearest = d.argmin(axis=1)
        for j in np.unique(nearest):
            members = batch[nearest == j]
            counts[j] += len(members)
            eta = len(members) / counts[j]
            centers[j] += eta * (members.mean(axis=0) - centers[j])
    # final hard assignment of the whole sample fixes the member
    # counts the rational-centroid format carries
    d = (-2.0 * x @ centers.T + (centers * centers).sum(axis=1)[None, :])
    nearest = d.argmin(axis=1)
    out = []
    for j in range(k):
        cnt = int((nearest == j).sum())
        if cnt == 0:
            cnt = 1  # keep the center; weight-1 singleton
        out.append(([int(v) for v in
                     np.floor(centers[j] * cnt + 0.5).astype(np.int64)],
                    cnt))
    return out


def kmeans_assign(emb: DataFrame, centroids: list[tuple[list[int], int]],
                  id_col: str = "vec_id",
                  vec_col: str = "embedding",
                  mode: str = "auto") -> DataFrame:
    """(id, cluster) for every vector — one row-local projection
    (Arrow-batched at or above ``ARROW_MIN_K`` centroids).
    ``mode`` passes through to :func:`with_cluster` (``gemm`` for the
    large-k sketch regime)."""
    q = emb.select(F.col(id_col), quantize_expr(vec_col).alias("__q"))
    return (with_cluster(q, centroids, mode=mode)
            .select(id_col, F.col("__cl").alias("cluster")))


def kmeans_profile(emb: DataFrame, k: int = 8, iters: int = 2,
                   id_col: str = "vec_id",
                   vec_col: str = "embedding") -> DataFrame:
    """Cluster-size + exact-centroid profile: one row per cluster with
    member count and the int64 component sums' total (an exact
    checksum of the centroid the next iteration would use). Everything
    integer — hash-stable across engines."""
    cents = kmeans_fit(emb, k=k, iters=iters, id_col=id_col,
                       vec_col=vec_col)
    q = emb.select(F.col(id_col).alias("__id"),
                   quantize_expr(vec_col).alias("__q"))
    return (with_cluster(q, cents)
            .select(F.col("__cl").alias("cluster"), "__q")
            .groupBy("cluster")
            .agg(F.count(F.lit(1)).cast("long").alias("n_members"),
                 F.sum(F.aggregate(F.col("__q"), F.lit(0).cast("long"),
                                   lambda a, x: a + x))
                 .alias("centroid_sum"))
            .orderBy("cluster"))


def semantic_neardup_pairs(emb: DataFrame,
                           centroids: list[tuple[list[int], int]],
                           threshold: float = 0.7,
                           id_col: str = "vec_id",
                           vec_col: str = "embedding") -> DataFrame:
    """Within-cluster cosine near-dup pairs: (vec_a, vec_b, cluster,
    cosine). The cosine is an exact int64 dot over quantized vectors
    divided by per-vector norms (computed once per vector, not per
    pair), rounded to 4 decimals for the cross-engine gate.

    The join condition carries only the cluster equi-key and id
    order; the cosine filter sits on the join output with
    null-tolerant coalesce guards so Catalyst cannot infer an
    IsNotNull over the quantize/fold expressions and push their
    re-evaluation into the scans (the simhash lesson, SCALE.md)."""
    from .dedup import spread

    q = quantize_expr(vec_col)
    n2 = F.aggregate(F.transform(F.col("__q"), lambda x: x * x),
                     F.lit(0).cast("long"), lambda a, x: a + x)
    base = (with_cluster(spread(emb.select(F.col(id_col), q.alias("__q"))),
                         centroids)
            .select(F.col(id_col), "__q",
                    F.col("__cl").alias("cluster"), n2.alias("__n2")))
    a, b = base.alias("a"), base.alias("b")
    zero = F.array().cast("array<bigint>")
    dot = F.aggregate(
        F.zip_with(F.coalesce(F.col("a.__q"), zero),
                   F.coalesce(F.col("b.__q"), zero), lambda x, y: x * y),
        F.lit(0).cast("long"), lambda acc, x: acc + x)
    # greatest(n2, 1): a zero-norm quantized vector (all |x| < 2^-21)
    # would make the quotient 0/0 = NaN, and Spark orders NaN ABOVE
    # every double, so `cosine >= threshold` would spuriously pass and
    # mark the zero vector a near-dup of its whole cluster. With the
    # guard its dot is 0 so cosine = 0 and it pairs with nothing; the
    # oracle applies the same greatest() to stay bit-identical.
    cos = F.round(
        dot.cast("double")
        / (F.sqrt(F.greatest(F.coalesce(F.col("a.__n2"), F.lit(1)),
                             F.lit(1)).cast("double"))
           * F.sqrt(F.greatest(F.coalesce(F.col("b.__n2"), F.lit(1)),
                               F.lit(1)).cast("double"))),
        4)
    return (
        a.join(b, (F.col("a.cluster") == F.col("b.cluster"))
               & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
        .select(F.col(f"a.{id_col}").alias("vec_a"),
                F.col(f"b.{id_col}").alias("vec_b"),
                F.col("a.cluster").alias("cluster"),
                cos.alias("cosine"))
        .filter(F.col("cosine") >= threshold)
    )


def hard_negatives(emb: DataFrame, k: int = 8, iters: int = 2,
                   dup_threshold: float = 0.99,
                   id_col: str = "vec_id",
                   vec_col: str = "embedding",
                   centroids: list | None = None) -> DataFrame:
    """Contrastive-training hard-negative mining: for every anchor
    vector, the most similar OTHER vector in its k-means cluster that
    is not a near-duplicate (cosine < ``dup_threshold``) — the
    classic in-batch-negatives upgrade (cluster = the candidate pool,
    so mining stays linear exactly like SemDeDup's pair search).

    Returns (vec_id, neg_id, cosine); vectors whose cluster holds no
    eligible candidate are absent. One max_by per anchor — no
    per-anchor sort; ties break to the lowest candidate id via the
    (cosine, -neg_id) struct order.

    ``centroids``: pass an already-fitted kmeans_fit result to skip
    the internal fit — at k∝n corpus scale the fit is the dominant
    O(n·k·dim) cost and a pipeline that already ran SemDeDup has it
    in hand (measured at the sf100 tier: fit dwarfs the mining
    join; scripts/scale_semantic.py shares one fit per tier)."""
    cents = centroids if centroids is not None else kmeans_fit(
        emb, k=k, iters=iters, id_col=id_col, vec_col=vec_col)
    pairs = semantic_neardup_pairs(emb, cents, threshold=-1.0,
                                   id_col=id_col, vec_col=vec_col)
    # one pass over the (a<b) pair join, each pair feeding BOTH
    # anchors via a 2-element explode — a unionAll of two projections
    # would re-run the whole join; explode_outer, not explode, keeps
    # InferFiltersFromGenerate from re-evaluating the array (the
    # documented Generate idiom)
    both = (pairs.filter(F.col("cosine") < dup_threshold)
            .select(F.explode_outer(F.array(
                F.struct(F.col("vec_a").alias("anchor"),
                         F.col("vec_b").alias("cand"), F.col("cosine")),
                F.struct(F.col("vec_b").alias("anchor"),
                         F.col("vec_a").alias("cand"), F.col("cosine"))))
                .alias("e"))
            .select("e.anchor", "e.cand", "e.cosine"))
    return (both.groupBy("anchor")
            .agg(F.max_by(F.struct(F.col("cand"), F.col("cosine")),
                          F.struct(F.col("cosine"),
                                   (-F.col("cand")).alias("nid")))
                 .alias("best"))
            .select(F.col("anchor").alias(id_col),
                    F.col("best.cand").alias("neg_id"),
                    F.col("best.cosine").alias("cosine")))


def semantic_dedup(emb: DataFrame, k: int = 8, iters: int = 2,
                   threshold: float = 0.7,
                   id_col: str = "vec_id",
                   vec_col: str = "embedding") -> DataFrame:
    """SemDeDup: one row per vector — its cluster, its duplicate
    group's keeper (min id, via connected components over the
    within-cluster near-dup pairs), and whether it survives.

    Returns (vec_id, cluster, keep_vec_id, is_kept)."""
    from .dedup import connected_components

    cents = kmeans_fit(emb, k=k, iters=iters, id_col=id_col,
                       vec_col=vec_col)
    pairs = (semantic_neardup_pairs(emb, cents, threshold=threshold,
                                    id_col=id_col, vec_col=vec_col)
             .select(F.col("vec_a").alias("doc_a"),
                     F.col("vec_b").alias("doc_b")))
    comp = connected_components(pairs)
    assigned = kmeans_assign(emb, cents, id_col=id_col, vec_col=vec_col)
    return (assigned
            .join(comp, assigned[id_col] == comp["doc_id"], "left")
            .select(F.col(id_col), "cluster",
                    F.coalesce("group_id", F.col(id_col))
                    .alias("keep_vec_id"))
            .withColumn("is_kept", F.col(id_col) == F.col("keep_vec_id")))
