"""Exact-integer power-iteration PCA (deltalake_poc_spark/pipeline/pca.py).

The gate query (pca_project) hash-matches a HUGEINT DuckDB replay;
these tests pin what the oracle can't: the moments are the exact
integer moments (vs numpy bigint), the power-iterated direction is
the true top eigenvector (vs numpy.linalg.eigh), and the whole chain
is partition-invariant."""

from __future__ import annotations

import numpy as np
import pytest

from deltalake_poc_spark.pipeline.cluster import QUANT_SCALE
from deltalake_poc_spark.pipeline.pca import (moment_profile, pca_project,
                                              power_iteration)

SF = "/root/testdata/sf0.01"


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet")


@pytest.fixture(scope="module")
def qmat(emb):
    rows = emb.select("vec_id", "embedding").collect()
    rows.sort(key=lambda r: r["vec_id"])
    x = np.array([r["embedding"] for r in rows], dtype=np.float64)
    return np.floor(x * QUANT_SCALE + 0.5).astype(np.int64)


def test_moments_exact_vs_numpy(emb, qmat):
    n, S, M = moment_profile(emb)
    assert n == qmat.shape[0]
    q = qmat.astype(object)  # bigint-exact matmul
    assert S == list(q.sum(axis=0))
    MM = q.T @ q
    assert all(M[i][j] == MM[i][j] for i in range(64) for j in range(64))


def test_moments_partition_invariant(spark, emb):
    a = moment_profile(emb)
    b = moment_profile(emb.repartition(11))
    assert a == b


def test_rayleigh_quotient_converges(emb, qmat):
    """The test embeddings are near-isotropic (eigen-gap λ1/λ2 ≈
    1.013), so no iteration count pins the exact top VECTOR; what
    power iteration guarantees — and what PCA uses — is captured
    energy: the Rayleigh quotient approaches λmax."""
    n, S, M = moment_profile(emb)
    x = qmat.astype(np.float64)
    c = x - x.mean(axis=0)
    cov = c.T @ c
    lmax = np.linalg.eigh(cov)[0][-1]
    v = np.array(power_iteration(n, S, M, iters=12), dtype=np.float64)
    assert (v @ cov @ v) / (v @ v) >= 0.95 * lmax
    # and more iterations keep improving it
    v25 = np.array(power_iteration(n, S, M, iters=25), dtype=np.float64)
    assert (v25 @ cov @ v25) / (v25 @ v25) >= (v @ cov @ v) / (v @ v)


def test_planted_spike_recovers_eigenvector(spark):
    """On a well-conditioned spectrum (one planted direction with 20x
    the noise variance) the iterated vector must ALIGN with the true
    component, not just capture energy."""
    rng = np.random.default_rng(7)
    dim, n = 16, 400
    spike = rng.normal(size=dim)
    spike /= np.linalg.norm(spike)
    x = rng.normal(scale=0.01, size=(n, dim)) \
        + np.outer(rng.normal(scale=0.2, size=n), spike)
    df = spark.createDataFrame(
        [(i, [float(f) for f in x[i]]) for i in range(n)],
        "vec_id: long, embedding: array<float>")
    nn, S, M = moment_profile(df)
    v = np.array(power_iteration(nn, S, M, iters=12), dtype=np.float64)
    cos = abs(v @ spike) / np.linalg.norm(v)
    assert cos > 0.999


def test_projection_maximizes_variance(spark, emb, qmat):
    scores = {r["vec_id"]: r["pc1_score"]
              for r in pca_project(emb, iters=6).collect()}
    s = np.array([scores[i] for i in sorted(scores)], dtype=np.float64)
    n, _, _ = moment_profile(emb)
    v_norm2 = None
    v = np.array(power_iteration(n, *moment_profile(emb)[1:], iters=6),
                 dtype=np.float64)
    v_norm2 = float(v @ v)
    # variance of the normalized projection beats every coordinate
    # axis (the defining property of the top principal component)
    proj_var = s.var() / v_norm2
    x = qmat.astype(np.float64)
    axis_vars = x.var(axis=0)
    assert proj_var >= axis_vars.max() * 0.999


def test_degenerate_identical_vectors(spark):
    df = spark.createDataFrame(
        [(i, [0.5, -0.25, 0.125]) for i in range(10)],
        "vec_id: long, embedding: array<float>")
    out = pca_project(df, iters=6).collect()
    # zero centered variance -> zero eigenvector -> all scores 0
    assert {r["pc1_score"] for r in out} == {0}


@pytest.mark.parametrize("ansi", ["true", "false"])
def test_short_vector_raises(spark, ansi):
    """A vector shorter than the first row's dimension contributes
    NULL cross-products that sum() skips (or, under ANSI, fails with
    an index error): moment_profile must refuse the input itself
    rather than return silently wrong moments."""
    df = spark.createDataFrame(
        [(0, [0.5, -0.25, 0.125, 1.0])]
        + [(i, [0.25 * i, 0.5, -1.0, 0.75]) for i in range(1, 8)]
        + [(8, [1.0, 2.0])],
        "vec_id: long, embedding: array<float>")
    old = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", ansi)
    try:
        with pytest.raises(ValueError, match="ragged"):
            moment_profile(df)
    finally:
        spark.conf.set("spark.sql.ansi.enabled", old)
