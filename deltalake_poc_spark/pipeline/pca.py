"""Distributed PCA (top principal component) by power iteration —
exact-integer moments, deterministic across engines.

An embedding pipeline needs dimensionality reduction for whitening,
visualization, and cheap pre-filters; the scalable classic is: one
distributed pass builds the second-moment matrix, then the tiny
(dim×dim) eigenproblem is solved driver-side — the same shape
MLlib's PCA uses (RowMatrix.computePrincipalComponents). The
reference engine has no linear-algebra operator; this is part of the
training-data surface (SURVEY.md §6).

Determinism contract (how an ITERATIVE eigen-solve hash-matches
DuckDB):

- embeddings quantize to the 2^20 integer grid (pipeline/cluster.py
  convention), so the moment sums M = Σ qqᵀ and S = Σ q are exact
  int64 — associative, partition-invariant, engine-invariant;
- the scaled centered matrix C = n·M − S·Sᵀ is computed in exact
  big-integer arithmetic (Python bigints here, HUGEINT in the
  oracle); scaling by n² leaves eigenvectors unchanged;
- each power-iteration step w = C·v is exact big-integer; the
  renormalization uses the MAX-norm, not the L2 norm: max(|w|) is
  exact and order-free (an L2 norm would need either an order-
  dependent float sum or an int256), and any positive rescaling
  leaves power iteration's fixed point unchanged;
- v re-quantizes to the 2^20 grid each step by INTEGER rounding:
  sign(w)·((2·|w|·2^20 + m) ÷ (2·m)) — floor(|w|/m·2^20 + ½) with
  zero floating point anywhere in the loop; on non-negative operands
  integer division is floor in every engine, so the whole algorithm
  is bit-portable by construction (the oracle's HUGEINT headroom
  bounds it to ~1M vectors; the engine side is arbitrary-precision);
- the final projection score q·v is exact int64.

Scale shape: the moment build is the only distributed work — a
dim²-per-row explode with map-side combine down to dim² rows
(dim=64 → 4096 longs reach the driver; the iteration is 64×64
driver math). The explode is the dim² lever: at dim ≳ 512 build the
co-moment blocks with an Arrow-batched mapInPandas accumulator
instead (dim² columns through a shuffle beat dim²·n rows) — the knob
is isolated in :func:`moment_profile`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from deltalake_poc_spark.exprlit import lit_long_array

from .cluster import QUANT_SCALE, quantize_expr


def moment_profile(emb: DataFrame, id_col: str = "vec_id",
                   vec_col: str = "embedding"):
    """One distributed pass -> (n, S, M): count, exact per-dimension
    int64 sums, exact int64 second-moment matrix Σ q qᵀ.

    Exploded ONCE as (i, v_i) rows each carrying the whole q array;
    row i's moment row Σ q_i·q then comes from dim narrow sums in one
    map-side-combinable groupBy(__i) — dim·n rows reach the partial
    aggregate (vs dim²·n with the historical double explode; same
    exact int64 sums, measured 1.87 s → 0.69 s warm at sf0.1) and
    dim rows of dim-long arrays reach the driver. posexplode_outer
    (not posexplode): InferFiltersFromGenerate would re-evaluate a
    plain generator inside a pre-Generate filter. The per-dimension
    sums ride as one parsed array expression (the exprlit rule —
    dim separate Column builds would cost ~0.5 s of py4j)."""
    q = emb.select(quantize_expr(vec_col).alias("__q"))
    first = q.select(F.size("__q").alias("d")).first()
    if first is None:
        raise ValueError("moment_profile: empty input")
    if first["d"] is None or int(first["d"]) < 0:
        # FIXED-DIM CONTRACT: vectors must be non-null, equal-length
        # arrays (the dim probe and the per-dim array aggregate both
        # assume it); fail loudly instead of truncating moments
        raise ValueError("moment_profile: null embedding vector "
                         "(fixed-dimension non-null vectors required)")
    dim = int(first["d"])
    rows = (q.select(F.posexplode_outer("__q").alias("__i", "__vi"),
                     "__q")
            .groupBy("__i")
            .agg(F.count(F.lit(1)).alias("__n"),
                 F.sum("__vi").alias("__sv"),
                 F.expr("array(" + ",".join(
                     f"sum(get(__q, {j}) * __vi)" for j in range(dim))
                     + ") AS __m"))
            .collect())
    if len(rows) != dim or len({int(r["__n"]) for r in rows}) != 1:
        # ragged input: a longer vector adds indexes past the probed
        # dim (its cross-moments would be truncated); a shorter, empty
        # or null one leaves some index short of rows and contributes
        # NULL products (get() past its end) that sum() skips. Either
        # way the moments would be silently wrong
        raise ValueError(
            f"moment_profile: ragged embedding dims (probed {dim}); "
            "fixed-dimension non-null vectors required")
    M = [[0] * dim for _ in range(dim)]
    S = [0] * dim
    n = 0
    for r in rows:
        i = int(r["__i"])
        vals = list(r["__m"])
        if any(v is None for v in vals):
            # an index whose elements are all NULL sums to NULL
            raise ValueError(
                "moment_profile: ragged/null embedding dims; "
                "fixed-dimension non-null vectors required")
        M[i] = [int(x) for x in vals]
        S[i] = int(r["__sv"])
        n = int(r["__n"])
    return n, S, M


def power_iteration(n: int, S: list[int], M: list[list[int]],
                    iters: int = 6) -> list[int]:
    """Top eigenvector of the scaled centered moment matrix
    C = n·M − S·Sᵀ, as a 2^20-quantized int vector. Exact bigint
    matvec + exact max-norm requantization per step (module
    docstring) — no floating point anywhere."""
    dim = len(S)
    C = [[n * M[i][j] - S[i] * S[j] for j in range(dim)]
         for i in range(dim)]
    v = [QUANT_SCALE] * dim
    for _ in range(iters):
        w = [sum(C[i][j] * v[j] for j in range(dim)) for i in range(dim)]
        m = max(abs(x) for x in w)
        if m == 0:
            return [0] * dim
        v = [(1 if x >= 0 else -1)
             * ((2 * abs(x) * QUANT_SCALE + m) // (2 * m)) for x in w]
    return v


def pca_project(emb: DataFrame, iters: int = 6, id_col: str = "vec_id",
                vec_col: str = "embedding") -> DataFrame:
    """(id, pc1_score): every vector's exact-integer projection onto
    the power-iterated top principal direction. Row-local fold after
    the one moment pass — the scores themselves never shuffle."""
    n, S, M = moment_profile(emb, id_col=id_col, vec_col=vec_col)
    v = power_iteration(n, S, M, iters=iters)
    vlit = lit_long_array(v)
    score = F.aggregate(
        F.zip_with(quantize_expr(vec_col), vlit, lambda x, y: x * y),
        F.lit(0).cast("long"), lambda acc, t: acc + t)
    return emb.select(F.col(id_col), score.alias("pc1_score"))
