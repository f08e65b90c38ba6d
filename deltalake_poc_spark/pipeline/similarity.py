"""Similarity search over embedding columns (array<float>).

- brute-force cosine top-k: the exact baseline — one scan, no shuffle
  except the final TakeOrdered(k)
- LSH-bucketed ANN: random-hyperplane signatures, multi-table probing;
  the 100 TB path (candidates come from bucket equality joins, the
  exact distance runs on candidates only)

Dot products use zip_with/aggregate in double precision — built-in
higher-order functions, JVM-side, no UDF.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from deltalake_poc_spark.exprlit import (lit_double_array,
                                         lit_double_matrix, sql_argmin_over,
                                         sql_fold_dot, sql_fold_sqdist_over)


def _as_double(col):
    return F.transform(col, lambda x: x.cast("double"))


def _dot(a, b):
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y),
                       F.lit(0.0), lambda acc, x: acc + x)


def _norm(a):
    return F.sqrt(F.aggregate(F.transform(a, lambda x: x * x),
                              F.lit(0.0), lambda acc, x: acc + x))


def cosine_topk(emb: DataFrame, query_vec: list[float], k: int = 10,
                exclude_vec_id: int | None = None) -> DataFrame:
    """Exact top-k by cosine similarity to a literal query vector."""
    q = F.transform(lit_double_array(query_vec),
                    lambda x: x.cast("double"))
    v = _as_double(F.col("embedding"))
    sim = _dot(v, q) / (_norm(v) * _norm(q))
    out = emb.select("vec_id", F.round(sim, 4).alias("cosine"))
    if exclude_vec_id is not None:
        out = out.filter(F.col("vec_id") != exclude_vec_id)
    return out.orderBy(F.desc("cosine"), F.asc("vec_id")).limit(k)


def hyperplanes(dim: int, n_planes: int, n_tables: int, seed: int = 42) -> np.ndarray:
    """Deterministic random hyperplanes, shape (tables, planes, dim)."""
    rs = np.random.RandomState(seed)
    return rs.normal(size=(n_tables, n_planes, dim))


def lsh_bucket_expr(vec_col, planes: np.ndarray):
    """Signature of one LSH table: integer whose bits are the signs of
    the projections onto each plane. Pure column expressions (the
    plane components become literals in the plan)."""
    bucket = F.lit(0).cast("long")
    for p_idx, plane in enumerate(planes):
        proj = F.aggregate(
            F.zip_with(
                vec_col,
                lit_double_array(plane),
                lambda x, y: x.cast("double") * y,
            ),
            F.lit(0.0), lambda acc, x: acc + x,
        )
        bucket = bucket + F.when(proj > 0, F.lit(2 ** p_idx)).otherwise(F.lit(0))
    return bucket


def left_fold_dot(xs, cs) -> float:
    """Python twin of the Spark/SQL left-fold dot product: acc starts
    at 0.0 and adds one product per element in order — the exact IEEE
    op sequence of ``F.aggregate(zip_with(...))`` and of the generated
    ``0.0 + e[1]*c1 + e[2]*c2 + ...`` SQL chain, so signs/buckets are
    bit-identical across Python, Spark, and DuckDB (np.dot pairwise
    summation is NOT — it folds in a different order)."""
    acc = 0.0
    for x, c in zip(xs, cs):
        acc = acc + float(x) * float(c)
    return acc


def left_fold_sqdist(xs, cs) -> float:
    """Left-fold squared euclidean distance (same contract as
    :func:`left_fold_dot`)."""
    acc = 0.0
    for x, c in zip(xs, cs):
        d = float(x) - float(c)
        acc = acc + d * d
    return acc


def sqdist_expr(vec_col, center):
    """Squared distance between an array column and a literal center:
    per-element (x-c)^2 into an array, then an ordered left fold —
    matches the generated SQL chain bit-for-bit."""
    return F.aggregate(
        F.zip_with(vec_col,
                   lit_double_array(center),
                   lambda x, y: (x.cast("double") - y)
                                * (x.cast("double") - y)),
        F.lit(0.0), lambda acc, x: acc + x)


def pivot_centers(dim: int, n_clusters: int = 16, seed: int = 7) -> list[list[float]]:
    """Deterministic coarse-quantizer pivots (seeded gaussian).

    The gate-checked IVF variant uses these instead of fitted k-means
    centers: the driver's ``oracle_sql()`` is a static string built
    with no SparkSession, so fitted centers cannot reach it
    order-independently — literal seeded pivots make the *entire*
    assign -> probe -> exact-rescore path SQL-recomputable. K-means
    fitting itself (not SQL-expressible) stays covered by the recall
    pytest over :func:`ivf_build`.
    """
    rs = np.random.RandomState(seed)
    return [[float(v) for v in row] for row in rs.normal(size=(n_clusters, dim))]


def pivot_assign(emb: DataFrame, centers: list[list[float]],
                 vec_col: str = "embedding") -> DataFrame:
    """Assign each vector to its nearest pivot (ties -> lowest cluster
    id — array_min over (dist, id) structs, same first-min semantics
    as array_position but each fold evaluates once; centers ride as a
    single literal array-of-arrays under one transform lambda, see
    pq_encode for the plan-cost rationale). Pure column expressions;
    at 100 TB ``__cluster`` becomes the table's partition key."""
    centers_col = lit_double_matrix(centers)
    v = F.col(vec_col)
    entries = F.transform(
        centers_col,
        lambda c, i: F.struct(
            F.aggregate(
                F.zip_with(v, c,
                           lambda x, y: (x.cast("double") - y)
                                        * (x.cast("double") - y)),
                F.lit(0.0), lambda acc, x: acc + x).alias("d"),
            i.alias("i")))
    return emb.withColumn("__cluster", F.array_min(entries)["i"])


def pivot_ivf_topk(emb: DataFrame, centers: list[list[float]],
                   query_vec: list[float], k: int = 10, n_probe: int = 4,
                   exclude_vec_id: int | None = None) -> DataFrame:
    """IVF probe over the deterministic pivot quantizer: pick the
    n_probe pivots nearest the query (left-fold distance, ties by
    cluster id), scan only those clusters, exact cosine on the
    candidates."""
    dists = [left_fold_sqdist(query_vec, c) for c in centers]
    probe = sorted(range(len(centers)), key=lambda i: (dists[i], i))[:n_probe]
    assigned = pivot_assign(emb, centers)
    candidates = assigned.filter(F.col("__cluster").isin(probe)).drop("__cluster")
    return cosine_topk(candidates, query_vec, k, exclude_vec_id)


def ivf_build(emb: DataFrame, n_clusters: int = 16, seed: int = 42,
              normalize: bool = False, max_iter: int = 20,
              init_mode: str = "k-means||"):
    """IVF (inverted-file) index: k-means partition of the vector space
    via Spark MLlib. Returns (assignments DataFrame with a __cluster
    column, centroid list). At 100 TB the assignment column becomes the
    table's partition key so a probe reads only n_probe partitions.

    ``normalize=True`` clusters the UNIT vectors (the raw embedding
    column is untouched): for cosine retrieval the coarse quantizer
    must live on the sphere, where L2 distance is monotone in cosine —
    clustering raw vectors mixes magnitude into the partition and a
    high-cosine, large-magnitude neighbor lands arbitrarily far from
    the query's cell (measured: recall would not reach 1.0 at ANY
    n_probe < n_clusters on the test embeddings)."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    from .dedup import spread

    v = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    if normalize:
        nrm = F.sqrt(F.aggregate(v, F.lit(0.0), lambda a, x: a + x * x))
        v = F.when(nrm == 0, v).otherwise(F.transform(v, lambda x: x / nrm))
    # spread() BEFORE the fit: a single-file embeddings table is one
    # partition, and MLlib's per-round aggregations then run as
    # single-task jobs (measured 1.5 s + 1.0 s one-task jobs inside
    # fit at sf0.1/local[32] — the documented docs-table foot-gun,
    # here on the vector side). The fit's centroids may land
    # differently under a different partitioning (sampling-based
    # init), which changes only pruning sharpness — the exact probe
    # returns the brute-force top-k for ANY clustering (the
    # ivf_kmeans_topk oracle contract).
    vecs = spread(emb).withColumn("__vec", array_to_vector(v))
    # cache for the FIT only: MLlib's fit makes one pass per
    # init/iteration/cost round, and each pass would otherwise replay
    # scan + normalize + array_to_vector (measured ~40% of the
    # ivf_kmeans_topk gate row). Released immediately after fit so no
    # cached subtree leaks into the session's later plans; the
    # returned lazy `assigned` recomputes the projection once, as
    # before, and the caller persists IT across the probe passes.
    vecs = vecs.persist()
    try:
        model = KMeans(k=n_clusters, seed=seed, maxIter=max_iter,
                       initMode=init_mode, featuresCol="__vec",
                       predictionCol="__cluster").fit(vecs)
    finally:
        vecs.unpersist()
    assigned = model.transform(vecs).drop("__vec")
    centers = [c.tolist() for c in model.clusterCenters()]
    return assigned, centers


def ivf_topk(assigned: DataFrame, centers: list[list[float]],
             query_vec: list[float], k: int = 10, n_probe: int = 4,
             exclude_vec_id: int | None = None) -> DataFrame:
    """Probe the n_probe clusters whose centroids are closest to the
    query, then exact cosine inside them (the scan is pruned to
    ~n_probe/n_clusters of the corpus)."""
    qv = np.array(query_vec, dtype=float)
    dists = [float(np.linalg.norm(np.array(c) - qv)) for c in centers]
    probe = sorted(range(len(centers)), key=lambda i: dists[i])[:n_probe]
    candidates = assigned.filter(F.col("__cluster").isin(probe)).drop("__cluster")
    return cosine_topk(candidates, query_vec, k, exclude_vec_id)


# observability for tests/scale runs: probe stats of the most recent
# ivf_topk_exact call in this process
LAST_IVF_EXACT_INFO: dict = {}


def _unit_expr(vec_col):
    """Unit-normalized double array (zero vectors pass through)."""
    v = _as_double(vec_col)
    nrm = F.sqrt(F.aggregate(v, F.lit(0.0), lambda a, x: a + x * x))
    return F.when(nrm == 0, v).otherwise(F.transform(v, lambda x: x / nrm))


def ivf_topk_exact(assigned: DataFrame, centers: list[list[float]],
                   query_vec: list[float], k: int = 10,
                   n_probe_init: int = 4,
                   exclude_vec_id: int | None = None) -> DataFrame:
    """EXACT top-k over a fitted IVF index via triangle-inequality
    cluster pruning — provably equal to brute-force ``cosine_topk``
    for any clustering, while scanning only the clusters that can
    possibly hold a top-k member.

    Requires an index built with ``ivf_build(..., normalize=True)``:
    on the unit sphere ``||u - q̂||² = 2 - 2·cos(u, q)``, so cosine
    order IS ascending unit-L2 order. For any member v of cluster c,
    ``||unit(v) - q̂|| ≥ d(q̂, μ_c) - r_c`` (triangle inequality, r_c =
    the cluster's max member-to-centroid unit distance, computed here
    with one small groupBy). Two phases:

    1. scan the ``n_probe_init`` clusters nearest the query → an upper
       bound D on the true k-th neighbor distance (a k-row collect);
    2. scan every NOT-YET-SCANNED cluster whose lower bound can still
       beat D — ``max(0, d(q̂,μ_c) - r_c)² ≤ D² + margin`` — and merge
       its exact top-k with phase 1's driver-side (2k rows) under the
       same (cosine DESC, vec_id ASC) order. Merging per-scan top-ks
       is exact: top-k(A ∪ B) = top-k(top-k(A) ∪ top-k(B)), and when
       phase 1 returned fewer than k rows it returned ALL of its
       clusters' rows, so the identity still holds. Phase 2 therefore
       never rescans phase 1's partitions (r9: previously it did; at
       the gate that was 4 of 14 probed clusters re-read, at 100 TB
       it is n_probe_init partitions of re-read I/O per query), and
       when the bound prunes everything else the second job is
       skipped entirely.

    The margin (1e-3 in d² space) absorbs the 4-decimal cosine
    rounding of the final ordering (|Δcos| ≤ 1e-4 ⇒ |Δd²| ≤ 2e-4) and
    driver-side float error, so no vector outside the probe set can
    even TIE a returned row's rounded cosine: the result equals
    brute-force under the same (round(cosine,4) DESC, vec_id ASC)
    order, by construction rather than by measured recall.

    Scale shape: radii are one tiny aggregate over the (already
    materialized) assignment — at 100 TB they are index metadata
    computed at build time. Phase 1 reads n_probe_init partitions;
    phase 2 expands only to clusters the bound cannot rule out. On
    corpora with real cluster structure D is tight and most clusters
    prune; on iid embeddings the bound honestly degrades toward a
    full scan (the same regime result as SCALE.md's two-level k-means
    finding) — exactness is kept either way, which is what makes the
    operator gateable against the brute-force oracle at any scale.
    """
    qv = np.array(query_vec, dtype=float)
    qn = np.linalg.norm(qv)
    qhat = qv / qn if qn > 0 else qv
    n_clusters = len(centers)
    cdist = [float(np.linalg.norm(np.array(c) - qhat)) for c in centers]

    # per-cluster max member-to-centroid unit distance (k-row collect).
    # The centroid rides in as a broadcast-joined COLUMN, not k·dim
    # literals: a literal formulation is a DISTINCT plan per fit (the
    # centroids differ every time) and pays whole-stage-codegen
    # compilation on every invocation (the known janino k·dim trap);
    # the join form's plan shape is invocation-invariant.
    cdf = assigned.sparkSession.createDataFrame(
        [(int(i), [float(x) for x in c]) for i, c in enumerate(centers)],
        "__cluster int, __center array<double>")
    d2 = F.aggregate(
        F.zip_with(_unit_expr(F.col("embedding")), F.col("__center"),
                   lambda x, c: (x - c) * (x - c)),
        F.lit(0.0), lambda a, x: a + x)
    radii = {r["__cluster"]: r["r"] for r in
             assigned.join(F.broadcast(cdf), "__cluster")
             .groupBy("__cluster")
             .agg(F.sqrt(F.max(d2)).alias("r")).collect()}

    probe1 = sorted(range(n_clusters), key=lambda i: (cdist[i], i))[:n_probe_init]
    top1_df = cosine_topk(
        assigned.filter(F.col("__cluster").isin(probe1)).drop("__cluster"),
        query_vec, k, exclude_vec_id)
    top1 = top1_df.collect()
    if len(top1) < k:
        d2_bound = float("inf")  # not enough candidates yet: scan all
    else:
        # k-th best distance from the rounded cosine (the rounding
        # slack is inside the margin below)
        d2_bound = max(0.0, 2.0 - 2.0 * float(top1[-1]["cosine"]))
    margin = 1e-3
    scanned = set(probe1)
    probe2 = [c for c in range(n_clusters) if c not in scanned
              and max(0.0, cdist[c] - radii.get(c, 0.0)) ** 2
              <= d2_bound + margin]
    LAST_IVF_EXACT_INFO.update(
        n_clusters=n_clusters, probed=len(scanned | set(probe2)),
        probe_fraction=len(scanned | set(probe2)) / n_clusters)
    rows = list(top1)
    if probe2:
        rows += cosine_topk(
            assigned.filter(F.col("__cluster").isin(probe2))
            .drop("__cluster"),
            query_vec, k, exclude_vec_id).collect()
    # driver-side exact merge of the (≤ 2k) per-scan winners; the
    # result is a materialized k-row frame, so re-executing it never
    # replays the probe pipeline
    rows.sort(key=lambda r: (-r["cosine"], r["vec_id"]))
    return assigned.sparkSession.createDataFrame(rows[:k], top1_df.schema)


def ann_lsh_topk(emb: DataFrame, query_vec: list[float], k: int = 10,
                 n_planes: int = 8, n_tables: int = 4, seed: int = 42,
                 exclude_vec_id: int | None = None) -> DataFrame:
    """Approximate top-k: random-hyperplane LSH with multi-table probe.

    Candidates = vectors sharing a bucket with the query in ANY of the
    tables (union via max over per-table matches); exact cosine is then
    computed on candidates only. With n·tables buckets the candidate
    set is ~n/2^planes per table — at 100 TB the bucket id becomes the
    partition key and the query never scans the full corpus.
    """
    dim = len(query_vec)
    hp = hyperplanes(dim, n_planes, n_tables, seed)
    # Query buckets via the same left-fold dot as the column
    # expression (and the DuckDB oracle) — bit-identical signs.
    q_buckets = []
    for t in range(n_tables):
        bits = 0
        for p_idx in range(n_planes):
            if left_fold_dot(query_vec, hp[t, p_idx]) > 0:
                bits += 2 ** p_idx
        q_buckets.append(bits)

    # Bucket EQUALITY needs only the per-plane match booleans, not the
    # bucket integers: a table matches iff every plane's sign equals
    # the query's bit. As an AND-chain, codegen short-circuits at the
    # first mismatching plane — expected ~2 of 8 projections evaluated
    # per table instead of all 8 (~4x less dot-product work per row).
    # Arithmetic per evaluated plane is IDENTICAL to lsh_bucket_expr,
    # so the candidate set (and the SQL oracle contract) is unchanged.
    # The whole 32-plane condition rides as ONE SQL string (exprlit):
    # per-plane Column construction costs ~35 py4j round trips, ~2 s
    # of driver time per call at 4x8 planes. The parsed tree is the
    # same left-assoc AND/OR chain over identical per-plane folds.
    table_sqls = []
    for t in range(n_tables):
        plane_sqls = []
        for p_idx in range(n_planes):
            # null-safe sign: a null projection contributes bit 0,
            # exactly like lsh_bucket_expr's when/otherwise
            pos = (f"coalesce({sql_fold_dot('embedding', hp[t, p_idx])}"
                   " > 0, false)")
            bit = (q_buckets[t] >> p_idx) & 1
            plane_sqls.append(pos if bit else f"(NOT {pos})")
        table_sqls.append("(" + " AND ".join(plane_sqls) + ")")
    candidates = emb.filter(F.expr(" OR ".join(table_sqls)))
    return cosine_topk(candidates, query_vec, k, exclude_vec_id)


# --- product quantization (PQ) -------------------------------------------

def pq_codebooks(dim: int, m: int = 4, k: int = 16,
                 seed: int = 11) -> list[list[list[float]]]:
    """Deterministic PQ codebooks: ``m`` subspaces of ``dim/m`` dims,
    ``k`` seeded-gaussian centroids each.

    Same rationale as :func:`pivot_centers`: the driver's oracle is a
    static SQL string, so the gate-checked variant quantizes against
    literal seeded codebooks — the entire encode -> ADC -> rescore
    path is then recomputable in SQL with bit-equal double
    arithmetic. Fitting real codebooks (k-means per subspace) would
    follow the ``ivf_build`` pattern and changes nothing downstream.
    """
    assert dim % m == 0, "dim must split evenly into m subspaces"
    rs = np.random.RandomState(seed)
    sub = dim // m
    return [[[float(v) for v in row] for row in rs.normal(size=(k, sub))]
            for _ in range(m)]


def sqdist_flat(vec_col, center, offset: int = 0):
    """Squared distance as a FLAT scalar chain — element_at/cast/
    multiply/add only, no higher-order functions. Bit-identical to
    sqdist_expr's left fold (same left-assoc order), but whole-stage
    codegen keeps it scalar: no per-row array allocation for the
    zip_with, no lambda interpretation. PQ encodes evaluate m*k of
    these per row (128 at the default config) — with the fold form
    that is 128 array materializations per row and the plan falls off
    the codegen fast path; the flat form benches ~4x faster."""
    v = F.col(vec_col) if isinstance(vec_col, str) else vec_col
    acc = F.lit(0.0)
    for i, c in enumerate(center):
        d = F.element_at(v, offset + i + 1).cast("double") - F.lit(float(c))
        acc = acc + d * d
    return acc


def pq_encode(emb: DataFrame, codebooks: list[list[list[float]]],
              vec_col: str = "embedding") -> DataFrame:
    """Encode each vector as ``m`` centroid ids (nearest centroid per
    subspace, ties -> lowest id). Row-local (no shuffle): at 100 TB
    this runs once at ingest and the codes column — m bytes instead
    of dim*4 — is what the ANN scan reads, a 32-64x reduction in
    scanned bytes.
    """
    from .dedup import spread

    sub = len(codebooks[0][0])
    codes = []
    for mi, book in enumerate(codebooks):
        # fold form, NOT sqdist_flat: 128 flat chains make one ~3000-node
        # scalar expression whose codegen/analysis dominates (benched 2x
        # slower than the folds end-to-end).
        # argmin via array_min over (dist, id) structs — struct order
        # compares dist then id, so ties break to the LOWEST id exactly
        # like array_position's first match, but the k-fold dists array
        # is referenced ONCE (array_position(d, array_min(d)) evaluates
        # d twice: 256 folds per row instead of 128).
        # The codebook rides as ONE literal array-of-arrays under a
        # single two-arg transform lambda, not k inlined expressions:
        # identical per-centroid left-fold arithmetic, ~10x smaller
        # expression tree — with inlined per-centroid folds the fused
        # encode+ADC plan paid ~3s of analysis/codegen per run
        # ... and since r12 the whole per-book argmin rides as ONE SQL
        # string (exprlit.sql_argmin_over): the HOF-lambda Column
        # construction alone cost ~0.5 s of py4j round trips per call
        # — paid per STREAMING MICRO-BATCH by pq_stream_ingest
        codes.append(F.expr(sql_argmin_over(
            f"slice(`{vec_col}`, {mi * sub + 1}, {sub})", book)))
    # explode-of-1-element-array = Generate barrier (cdc/parse.py
    # idiom): ADC scoring references pq_code once per subspace, and
    # without the barrier CollapseProject inlines the whole m*k-fold
    # encode into EVERY reference — the encode ran ~8x per row and the
    # fused encode+score plan benched 4.2s where encode-then-score is
    # 1.3s. Explode of a 1-element array keeps row semantics identical.
    return (spread(emb)
            .select("*", F.explode(F.array(F.array(*codes)))
                    .alias("pq_code")))


def pq_adc_topk(encoded: DataFrame, codebooks: list[list[list[float]]],
                query_vec: list[float], k: int = 10, shortlist: int = 50,
                exclude_vec_id: int | None = None,
                vectors: DataFrame | None = None) -> DataFrame:
    """Asymmetric-distance (ADC) top-k: the query's distance to every
    centroid of every subspace is precomputed driver-side (m*k doubles
    — the 'distance table'), so scoring a row is m literal-array
    lookups + a fixed left-assoc sum over its codes. The ADC scan
    shortlists ``shortlist`` candidates (TakeOrdered — no full sort),
    which are then exactly rescored with full-precision cosine.

    At 100 TB the scan touches only the m-byte codes column; the
    expensive full vectors are fetched just for the shortlist rows.
    Pass ``vectors`` (a separate (vec_id, embedding) table — codes are
    precomputed at ingest and stored WITHOUT the vectors) to get that
    shape literally: the ADC scan projects only (vec_id, pq_code), and
    the shortlist is broadcast-joined back to the vectors table for
    rescore, so the wide embedding column never enters the scan
    (pinned by the plan test). With ``vectors=None`` the rescore reuses
    ``encoded``'s own embedding column — right when encode and query
    run in one job.
    """
    sub = len(codebooks[0][0])
    dt = [[left_fold_sqdist(query_vec[mi * sub:(mi + 1) * sub], c)
           for c in book]
          for mi, book in enumerate(codebooks)]
    approx = None
    for mi, row in enumerate(dt):
        term = F.element_at(lit_double_array(row),
                            F.element_at(F.col("pq_code"), mi + 1) + 1)
        approx = term if approx is None else approx + term
    scored = encoded.withColumn("__adc", approx)
    if exclude_vec_id is not None:
        scored = scored.filter(F.col("vec_id") != exclude_vec_id)
    if vectors is not None:
        ids = (scored.select("vec_id", "__adc")
               .orderBy(F.col("__adc").asc(), F.col("vec_id").asc())
               .limit(shortlist).select("vec_id"))
        short = vectors.join(F.broadcast(ids), "vec_id")
    else:
        short = (scored.orderBy(F.col("__adc").asc(), F.col("vec_id").asc())
                 .limit(shortlist).drop("__adc", "pq_code"))
    return cosine_topk(short, query_vec, k, exclude_vec_id=None)


def pq_fit(emb: DataFrame, m: int = 4, k: int = 16, seed: int = 23,
           sample_cap: int = 100_000, iters: int = 10,
           vec_col: str = "embedding",
           key_col: str = "vec_id") -> list[list[list[float]]]:
    """Fit PQ codebooks: Lloyd's k-means per subspace over a driver-
    collected sample (bounded: sample_cap * dim * 8B ~ 50 MB at the
    defaults — fitting quantizers on a sample is standard practice;
    the expensive part, encoding the full corpus, stays distributed
    in :func:`pq_encode`). Deterministic for a fixed seed: the sample
    is the ``sample_cap`` LOWEST ``key_col`` rows (a TakeOrdered top-k,
    not a partitioning-dependent bare limit), and ``k`` is clamped to
    the sample size so tiny corpora fit without raising.
    """
    rows = (emb.select(key_col, vec_col)
            .orderBy(key_col).limit(sample_cap).collect())
    X = np.array([list(r[1]) for r in rows], dtype=float)
    dim = X.shape[1]
    assert dim % m == 0
    sub = dim // m
    k = min(k, len(X))
    rs = np.random.RandomState(seed)
    books = []
    for mi in range(m):
        S = X[:, mi * sub:(mi + 1) * sub]
        centers = S[rs.choice(len(S), size=k, replace=False)].copy()
        for _ in range(iters):
            d2 = ((S[:, None, :] - centers[None, :, :]) ** 2).sum(axis=2)
            assign = d2.argmin(axis=1)
            for ci in range(k):
                mask = assign == ci
                if mask.any():
                    centers[ci] = S[mask].mean(axis=0)
        books.append([[float(v) for v in c] for c in centers])
    return books


def pq_query_tables(queries_df: DataFrame,
                    codebooks: list[list[list[float]]],
                    vec_col: str = "embedding") -> DataFrame:
    """Per-query asymmetric distance tables, computed declaratively:
    for each query row, ``dt[m][c] = sqdist(query_sub_m, book[m][c])``
    with the same literal-codebook transform (and the same left-fold
    arithmetic) as :func:`pq_encode`. Row-local over the QUERY set —
    a few rows — so the result broadcasts."""
    sub = len(codebooks[0][0])
    dts = []
    for mi, book in enumerate(codebooks):
        # one SQL string per book (see pq_encode)
        dts.append(F.expr(sql_fold_sqdist_over(
            f"slice(`{vec_col}`, {mi * sub + 1}, {sub})", book)))
    return queries_df.select(
        F.col("vec_id").alias("qid"),
        F.col(vec_col).alias("__qvec"),
        F.array(*dts).alias("__dt"))


def pq_adc_topk_batch(encoded: DataFrame,
                      codebooks: list[list[list[float]]],
                      queries_df: DataFrame, k: int = 10,
                      shortlist: int = 50,
                      vec_col: str = "embedding") -> DataFrame:
    """Batch ANN — the shape a production retrieval job actually has:
    MANY queries against one corpus. The corpus codes are scanned
    ONCE; every row is scored against every query via a broadcast
    nested-loop join with the per-query distance tables (queries are
    few, the join side is tiny), then two per-query rank windows pick
    the ADC shortlist and the exact-cosine top-k. Self-pairs are
    excluded.

    Scale shape: cost is (corpus x queries) lookups of m array
    elements — no re-encode per query, no per-query scan. The rank
    window shuffles by qid; for query batches comparable to the
    cluster size that is the right partitioning (each query's
    shortlist builds on one node), and larger batches spread further.
    """
    m = len(codebooks)
    qdt = pq_query_tables(queries_df, codebooks, vec_col)
    approx = None
    for mi in range(m):
        term = F.element_at(
            F.element_at(F.col("__dt"), mi + 1),
            F.element_at(F.col("pq_code"), mi + 1) + 1)
        approx = term if approx is None else approx + term
    scored = (encoded.crossJoin(F.broadcast(qdt))
              .filter(F.col("vec_id") != F.col("qid"))
              .withColumn("__adc", approx))
    w_short = Window.partitionBy("qid").orderBy(
        F.col("__adc").asc(), F.col("vec_id").asc())
    short = (scored.withColumn("__rn", F.row_number().over(w_short))
             .filter(F.col("__rn") <= shortlist))
    v = _as_double(F.col(vec_col))
    qv = _as_double(F.col("__qvec"))
    sim = _dot(v, qv) / (_norm(v) * _norm(qv))
    w_k = Window.partitionBy("qid").orderBy(
        F.desc("cosine"), F.asc("vec_id"))
    return (short.select("qid", "vec_id", F.round(sim, 4).alias("cosine"))
            .withColumn("__rk", F.row_number().over(w_k))
            .filter(F.col("__rk") <= k)
            .select("qid", "vec_id", "cosine"))


# ------------------------------------------------------ streaming PQ ingest

def pq_codes_store_init(spark, root: str, dim: int = 32, m: int = 4):
    """Create/open the persisted PQ codes table: (vec_id, embedding,
    pq_code). The ADC scan projects only (vec_id, pq_code) — column
    pruning keeps the wide embedding out of the shortlist pass (the
    plan pin at tests/test_plans.py) — while the exact-rescore tail
    reads embeddings for shortlist rows only."""
    from pyspark.sql.types import (ArrayType, FloatType, IntegerType,
                                   LongType, StructField, StructType)

    from deltalake_poc_spark.tables import VersionedTable

    schema = StructType([
        StructField("vec_id", LongType()),
        StructField("embedding", ArrayType(FloatType())),
        StructField("pq_code", ArrayType(IntegerType())),
    ])
    return VersionedTable.create(spark, root, schema, if_not_exists=True)


def streaming_pq_ingest(emb_stream: DataFrame, store_root: str,
                        checkpoint_dir: str,
                        codebooks: list[list[list[float]]],
                        vec_col: str = "embedding",
                        optimize_every: int | None = None,
                        available_now: bool = False):
    """Continuous ANN-index maintenance: each embedding micro-batch is
    PQ-encoded (row-local, pq_encode) and appended to the persisted
    codes table that :func:`pq_adc_topk_batch` scans — the streaming
    twin of the one-shot encode job, mirroring the signature store's
    writer pattern (streaming ingest + OCC commits + periodic
    OPTIMIZE; pipeline/dedup.py:streaming_dedup_minhash).

    Exactly-once under at-least-once replay and right-sized files:
    each append is VersionedTable.append_batch with the micro-batch id,
    so a replayed batch whose id is already in the log appends nothing.
    One store object serves every batch, so its batch-id scan reads
    only the log tail since the previous trigger.

    Readers are never torn: an ANN query sees the store at one
    version (OCC snapshot), so results are consistent-at-a-version
    while ingest keeps appending; ``optimize_every`` bounds the
    small-file growth that per-batch appends otherwise accumulate
    (compaction is one more OCC commit — concurrent queries pin
    their version, concurrent appends rebase past it).
    """
    store = pq_codes_store_init(
        emb_stream.sparkSession, store_root,
        dim=len(codebooks) * len(codebooks[0][0]), m=len(codebooks))

    def process(batch_df: DataFrame, batch_id: int) -> None:
        encoded = pq_encode(batch_df.select("vec_id", vec_col), codebooks,
                            vec_col)
        if store.append_batch(encoded, batch_id) is None:
            return  # replayed batch: already committed
        if optimize_every and (batch_id + 1) % optimize_every == 0:
            store.optimize()

    writer = (emb_stream.writeStream.foreachBatch(process)
              .option("checkpointLocation", checkpoint_dir)
              .queryName("pq-ingest"))
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
