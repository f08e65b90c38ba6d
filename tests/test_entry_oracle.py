"""Run every __spark_entry__ query against its DuckDB oracle at sf0.001.

This mirrors the driver's t2 correctness gate (which runs at sf0.01);
run ``SPARK_GRAFT_TEST_SF=/root/testdata/sf0.01 pytest`` for the full-
size check.
"""

from __future__ import annotations

import os
import re

import pytest

import __spark_entry__ as entrymod
from tests.oracle_util import compare_to_oracle

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")

QUERIES = entrymod.queries()


@pytest.fixture(scope="module")
def oracles():
    return entrymod.oracle_sql()


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    assert df.count() > 0
    assert len(df.schema.fields) >= 2


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_query_vs_oracle(spark, oracles, name):
    if name == "delta_read" and (absent := entrymod._ref_delta_absent()):
        pytest.skip(absent)
    df = QUERIES[name](spark, SF_DIR)
    if name not in oracles:
        assert df.count() >= 0  # rows-only check (non-SQL-expressible op)
        return
    compare_to_oracle(df, oracles[name], SF_DIR)


def test_absent_reference_delta_costs_only_delta_read(
        spark, tmp_path, monkeypatch):
    """The reference Delta table is the fixture of one query: without
    it oracle_sql() still builds, lacks exactly delta_read and the
    reason names the missing path; a standard Delta table in its place
    brings delta_read's oracle back."""
    from deltalake_poc_spark.tables import VersionedTable
    from deltalake_poc_spark.tables.deltaexport import export_standard_delta

    missing = str(tmp_path / "absent")
    monkeypatch.setattr(entrymod, "_REF_DELTA", missing)
    without = entrymod.oracle_sql()
    reason = entrymod._ref_delta_absent()
    assert reason is not None and missing in reason

    present = str(tmp_path / "ref")
    t = VersionedTable.create(spark, str(tmp_path / "src"),
                              spark.createDataFrame([], "id long").schema)
    export_standard_delta(t, os.path.join(present, "customers"))  # v0 only
    monkeypatch.setattr(entrymod, "_REF_DELTA", present)
    assert entrymod._ref_delta_absent() is None
    with_fixture = entrymod.oracle_sql()
    assert "delta_read" not in without
    assert set(with_fixture) == set(without) | {"delta_read"}
    assert all(with_fixture[k] == sql for k, sql in without.items())


def test_loaded_builders_read_through_module_load_table(monkeypatch):
    """Rebinding ``__spark_entry__.load_table`` redirects every builder
    made by ``_loaded`` (perfbench's lakehouse_read points the TPC-H
    and corpus builders at lake tables this way): each one, called,
    reaches the rebound function and not a reference it captured."""
    class Reached(Exception):
        pass

    def stub(spark, sf_dir, name):
        raise Reached(name)

    registry = {**entrymod.queries(), **entrymod.bench_extra_queries()}
    monkeypatch.setattr(entrymod, "load_table", stub)
    loaded = {n: b for n, b in registry.items()
              if b.__qualname__ == "_loaded.<locals>.build"}
    tpch = {n for n in registry if re.match(r"q\d+_", n)}
    assert tpch | {"minhash_dedup", "kmeans_clusters"} <= set(loaded)
    for build in loaded.values():
        with pytest.raises(Reached):
            build(None, SF_DIR)


@pytest.mark.parametrize("sf", ["sf0.001", "sf0.01", "sf0.1"])
def test_tf_idf_ln_agreement_pinned(spark, oracles, sf):
    """tf_idf is the one gate query whose hash depends on cross-engine
    transcendental agreement: ROUND(tf*(ln((n+1)/(df+1))+1), 4) only
    matches DuckDB if a <=1-ulp ln() difference cannot flip the 4dp
    rounding. This pins BOTH halves of that claim at every SF:
    (1) the oracle comparison itself, (2) the margin invariant that no
    unrounded value sits within 1e-8 of a .xxxx5 rounding boundary —
    the property that makes (1) robust rather than lucky."""
    sf_dir = f"/root/testdata/{sf}"
    df = QUERIES["tf_idf"](spark, sf_dir)
    compare_to_oracle(df, oracles["tf_idf"], sf_dir)

    from pyspark.sql import functions as F

    # recompute unrounded and measure distance to the nearest rounding
    # boundary: frac(x*10^4) should stay away from 0.5 by >> 1 ulp of
    # the product (~1e-12 at these magnitudes)
    from deltalake_poc_spark.analytics.io import load_table
    from deltalake_poc_spark.pipeline.text import tf_idf

    unrounded = tf_idf(load_table(spark, sf_dir, "documents"),
                       rounded=False)
    scaled = unrounded.select(
        (F.col("tfidf_raw") * 10_000).alias("s"))
    near = scaled.select(
        F.abs(F.col("s") - F.floor("s") - 0.5).alias("margin")
    ).agg(F.min("margin").alias("m")).collect()[0]["m"]
    assert near > 1e-8, f"tfidf value within {near} of a 4dp boundary"


@pytest.mark.parametrize("sf", ["sf0.001", "sf0.01", "sf0.1"])
def test_dsir_ln_agreement_pinned(spark, oracles, sf):
    """dsir_select hashes on ROUND(Σ per-gram ln-ratio, 4): both
    engines fold the same doubles in the same (sorted-bucket,
    left-assoc) order, so only ≤1-ulp ln() differences can diverge —
    harmless unless an unrounded sum sits on a .xxxx5 boundary. Pin
    (1) the oracle comparison, (2) the margin invariant, at every SF
    (measured margins ≥ 4.9e-5 — 3+ decades above the ~1e-12
    accumulated-ulp scale)."""
    from pyspark.sql import functions as F

    from deltalake_poc_spark.analytics.io import load_table
    from deltalake_poc_spark.pipeline.sample import dsir_weights

    sf_dir = f"/root/testdata/{sf}"
    compare_to_oracle(QUERIES["dsir_select"](spark, sf_dir),
                      oracles["dsir_select"], sf_dir)

    un = dsir_weights(load_table(spark, sf_dir, "documents"), "src0",
                      n_buckets=1024, rounded=False)
    near = (un.select((F.col("dsir_raw") * 10_000).alias("s"))
            .select(F.abs(F.col("s") - F.floor("s") - 0.5).alias("m"))
            .agg(F.min("m")).collect()[0][0])
    assert near > 1e-8, f"dsir sum within {near} of a 4dp boundary"


@pytest.mark.parametrize("sf", ["sf0.001", "sf0.01", "sf0.1"])
def test_bm25_ln_agreement_pinned(spark, oracles, sf):
    """bm25_search hashes on ROUND(fixed-order float chain, 4); the
    only cross-engine wiggle is ≤1-ulp ln() per idf. Pin the oracle
    comparison AND the margin invariant at every SF (measured margins
    ≥ 2e-5)."""
    from pyspark.sql import functions as F

    from deltalake_poc_spark.analytics.io import load_table
    from deltalake_poc_spark.pipeline.retrieval import bm25_topk

    sf_dir = f"/root/testdata/{sf}"
    compare_to_oracle(QUERIES["bm25_search"](spark, sf_dir),
                      oracles["bm25_search"], sf_dir)

    un = bm25_topk(load_table(spark, sf_dir, "documents"),
                   "fast table scan query", rounded=False)
    near = (un.select((F.col("bm25_raw") * 10_000).alias("s"))
            .select(F.abs(F.col("s") - F.floor("s") - 0.5).alias("m"))
            .agg(F.min("m")).collect()[0][0])
    assert near > 1e-8, f"bm25 score within {near} of a 4dp boundary"


def test_bm25_ranks_term_density(spark):
    """Semantic sanity on a hand-built corpus: a short document made
    of query terms must outrank a long document that mentions one
    term once, and a no-term document scores 0."""
    from deltalake_poc_spark.pipeline.retrieval import bm25_topk

    rows = [
        (0, "fast table fast scan query table"),
        (1, "the quick brown fox jumps over a lazy dog near a table"),
        (2, "nothing relevant here at all"),
    ]
    docs = spark.createDataFrame(rows, "doc_id: long, text: string")
    got = {r["doc_id"]: r["bm25"]
           for r in bm25_topk(docs, "fast table scan query",
                              k=3).collect()}
    assert got[0] > got[1] > got[2] == 0.0


@pytest.mark.parametrize("sf", ["sf0.001", "sf0.01", "sf0.1"])
def test_lm_perplexity_ln_agreement_pinned(spark, oracles, sf):
    """lm_perplexity hashes on ROUND(−Σ ln p / n, 4) with the sum
    folded in sorted-bigram order; pin the oracle comparison and the
    rounding-margin invariant at every SF."""
    from pyspark.sql import functions as F

    from deltalake_poc_spark.analytics.io import load_table
    from deltalake_poc_spark.pipeline.text import lm_bigram_score

    sf_dir = f"/root/testdata/{sf}"
    compare_to_oracle(QUERIES["lm_perplexity"](spark, sf_dir),
                      oracles["lm_perplexity"], sf_dir)

    un = (lm_bigram_score(load_table(spark, sf_dir, "documents"),
                          rounded=False)
          .filter(F.col("n_bigrams") > 0))
    near = (un.select((F.col("nll_raw") * 10_000).alias("s"))
            .select(F.abs(F.col("s") - F.floor("s") - 0.5).alias("m"))
            .agg(F.min("m")).collect()[0][0])
    assert near > 1e-8, f"nll within {near} of a 4dp boundary"


def test_lm_perplexity_pruned_model_vs_oracle(spark):
    """The min_count pruning knob (the 100 TB model-size lever) stays
    oracle-exact: pruned bigrams fall back to the add-one unseen
    probability 1/(c(w1)+V), recomputed here in DuckDB with the same
    sorted-fold order. Also pins that broadcast_model=False changes
    nothing (AQE picks the strategy, values identical)."""
    import duckdb

    from deltalake_poc_spark.analytics.io import load_table
    from deltalake_poc_spark.pipeline.text import lm_bigram_score

    sf_dir = "/root/testdata/sf0.01"
    mc = 3
    got = (lm_bigram_score(load_table(spark, sf_dir, "documents"),
                           min_count=mc, broadcast_model=False)
           .toPandas())
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM "
                f"read_parquet('{sf_dir}/documents.parquet')")
    want = con.execute(f"""
        WITH toks AS (
            SELECT doc_id, string_split(trim(text), ' ') AS t
            FROM documents
        ), bg AS (
            SELECT doc_id,
                   CASE WHEN len(t) >= 2 THEN
                       [t[i] || ' ' || t[i+1] FOR i IN range(1, len(t))]
                   ELSE [] END AS bs
            FROM toks
        ), uni AS (
            SELECT w, COUNT(*) AS cu
            FROM (SELECT unnest(t) AS w FROM toks) GROUP BY w
        ), vv AS (SELECT COUNT(*) AS v FROM uni
        ), bc AS (
            SELECT b, COUNT(*) AS cb
            FROM (SELECT unnest(bs) AS b FROM bg) GROUP BY b
        ), lnp AS (
            SELECT b, ln(CAST(cb + 1 AS DOUBLE)
                         / CAST(cu + v AS DOUBLE)) AS lp
            FROM bc JOIN uni ON split_part(b, ' ', 1) = w, vv
            WHERE cb >= {mc}
        ), mm AS (
            SELECT map(list(b ORDER BY b), list(lp ORDER BY b)) AS m
            FROM lnp
        ), um AS (
            SELECT map(list(w ORDER BY w), list(cu ORDER BY w)) AS u
            FROM uni
        )
        SELECT doc_id, CAST(len(bs) AS BIGINT) AS n_bigrams,
               CASE WHEN len(bs) = 0 THEN CAST(0.0 AS DOUBLE)
               ELSE ROUND((-(list_reduce(
                   list_prepend(CAST(0.0 AS DOUBLE),
                       list_transform(list_sort(bs), k ->
                           COALESCE(m[k][1],
                               ln(CAST(1.0 AS DOUBLE)
                                  / CAST(u[split_part(k, ' ', 1)][1] + v
                                         AS DOUBLE))))),
                   (a, x) -> a + x))) / CAST(len(bs) AS DOUBLE), 4)
               END AS nll_token
        FROM bg, mm, um, vv
        ORDER BY doc_id
    """).df()
    got = got.sort_values("doc_id").reset_index(drop=True)
    want = want.sort_values("doc_id").reset_index(drop=True) \
               .astype(got.dtypes.to_dict())
    assert got.equals(want)
    # pruning must actually change SOME scores vs the unpruned model
    # (otherwise mc=3 tested nothing on this corpus)
    base = (lm_bigram_score(load_table(spark, sf_dir, "documents"))
            .toPandas().sort_values("doc_id").reset_index(drop=True))
    assert not base["nll_token"].equals(got["nll_token"])


def test_lm_zero_bigram_docs_config_independent(spark):
    """Docs with <2 tokens must score (n_bigrams=0, nll=0.0) under
    EVERY size(NULL) regime — ANSI (NULL) and legacy sizeOfNull (-1).
    ADVICE r6: the old coalesce(size(__e), 0) only worked because
    this repo's Spark returns NULL; on stock 3.x defaults size(NULL)
    is -1 and zero-bigram docs emitted (n_bigrams=-1, NULL score)."""
    from deltalake_poc_spark.pipeline.text import lm_bigram_score

    docs = spark.createDataFrame(
        [(1, "hello world again"), (2, "solo"), (3, "")],
        "doc_id: long, text: string")
    old_ansi = spark.conf.get("spark.sql.ansi.enabled")
    try:
        for ansi, legacy in (("true", "false"), ("false", "true")):
            spark.conf.set("spark.sql.ansi.enabled", ansi)
            spark.conf.set("spark.sql.legacy.sizeOfNull", legacy)
            got = {r["doc_id"]: (r["n_bigrams"], r["nll_token"])
                   for r in lm_bigram_score(docs).collect()}
            assert got[2] == (0, 0.0), (ansi, legacy, got)
            assert got[3] == (0, 0.0), (ansi, legacy, got)
            assert got[1][0] == 2
    finally:
        spark.conf.set("spark.sql.ansi.enabled", old_ansi)
        spark.conf.unset("spark.sql.legacy.sizeOfNull")


def test_lm_trigram_backoff_matches_python_model(spark):
    """All three stupid-backoff levels fire on this corpus
    (trigram branch for 'a b c' ct=2 >= mc3; bigram branch for
    'c a b' whose w23='a b' survives mc2; unigram branch for
    'b c a'/'a b d' whose w23 counts are pruned) and every score
    matches an independent pure-Python reference bit-for-bit at
    4 decimals."""
    import math
    from collections import Counter

    from deltalake_poc_spark.pipeline.text import lm_trigram_backoff_score

    rows = [(1, "a b c a b c"), (2, "a b d"), (3, "x"), (4, "")]
    mc3, mc2, alpha = 2, 2, 0.4
    # the engine's tokenizer contract is split(trim(text), ' ') —
    # identical in Spark and DuckDB, and an EMPTY doc yields the
    # single token '' (so d4 adds one '' to the unigram table and
    # N; python str.split(' ') reproduces that, str.split() does
    # not)
    docs = {i: (t or "").strip().split(" ") for i, t in rows}
    uni = Counter(w for t in docs.values() for w in t)
    bi = Counter(" ".join(t[i:i + 2]) for t in docs.values()
                 for i in range(len(t) - 1))
    tri = Counter(" ".join(t[i:i + 3]) for t in docs.values()
                  for i in range(len(t) - 2))
    n = sum(uni.values())

    def lp(g):
        w1, w2, w3 = g.split()
        if tri[g] >= mc3:
            return math.log(tri[g] / bi[f"{w1} {w2}"])
        if bi.get(f"{w2} {w3}", 0) >= mc2:
            return math.log(alpha * bi[f"{w2} {w3}"] / uni[w2])
        return math.log(alpha * alpha * uni[w3] / n)

    want = {}
    for i, t in docs.items():
        gs = sorted(" ".join(t[j:j + 3]) for j in range(len(t) - 2))
        total = 0.0
        for g in gs:
            total += lp(g)
        want[i] = (len(gs),
                   0.0 if not gs else round(-total / len(gs), 4))
    df = spark.createDataFrame(rows, "doc_id: long, text: string")
    got = {r["doc_id"]: (r["n_trigrams"], r["nll_token"])
           for r in lm_trigram_backoff_score(
               df, min_count3=mc3, min_count2=mc2).collect()}
    assert got == want
    # sanity on the branch census itself, so corpus drift can't
    # silently stop exercising a level
    assert tri["a b c"] >= mc3
    assert tri["c a b"] < mc3 and bi["a b"] >= mc2
    assert tri["a b d"] < mc3 and bi.get("b d", 0) < mc2


def test_lm_perplexity_flags_disfluent_text(spark):
    """Semantic sanity: a document of common in-distribution bigrams
    must score (much) lower NLL than a document of never-seen word
    orderings over the same vocabulary — the property perplexity
    filters rely on."""
    from deltalake_poc_spark.pipeline.text import lm_bigram_score

    rows = [(i, "the cat sat on the mat and the dog sat on the rug")
            for i in range(10)]
    rows.append((10, "rug the on dog mat cat the sat and on the"))
    docs = spark.createDataFrame(rows, "doc_id: long, text: string")
    got = {r["doc_id"]: r["nll_token"]
           for r in lm_bigram_score(docs).collect()}
    assert got[10] > got[0] + 1.0


def test_leakage_safe_split_vs_naive(spark):
    """On a corpus engineered so near-dup pairs straddle a naive hash
    split, leakage_safe_split must yield ZERO crossing pairs while the
    naive per-document split provably leaks — the contamination bug
    the operator exists to kill. Split sizes stay ~90/5/5."""
    from pyspark.sql import functions as F

    from deltalake_poc_spark.pipeline.dedup import ngram_jaccard_pairs
    from deltalake_poc_spark.pipeline.sample import (dataset_split,
                                                     leakage_safe_split)

    # 200 documents in 100 near-identical pairs (i, i+1000)
    rows = []
    for i in range(100):
        body = f"alpha bravo charlie delta echo foxtrot golf {i} " * 3
        rows.append((i, body + "hotel"))
        rows.append((i + 1000, body + "india"))
    docs = spark.createDataFrame(rows, "doc_id: long, text: string")
    pairs = ngram_jaccard_pairs(docs, threshold=0.15)
    assert pairs.count() >= 100

    def crossing(split_df):
        return (pairs
                .join(split_df.select(F.col("doc_id").alias("doc_a"),
                                      F.col("split").alias("sa")), "doc_a")
                .join(split_df.select(F.col("doc_id").alias("doc_b"),
                                      F.col("split").alias("sb")), "doc_b")
                .filter(F.col("sa") != F.col("sb")).count())

    naive = dataset_split(docs)
    safe = leakage_safe_split(docs, pairs)
    assert crossing(naive) > 0          # the bug is real on this corpus
    assert crossing(safe) == 0          # and the operator kills it
    sizes = {r["split"]: r["n"] for r in
             safe.groupBy("split").agg(F.count(F.lit(1)).alias("n"))
             .collect()}
    assert sizes.get("train", 0) > sizes.get("val", 0)
    assert sizes.get("train", 0) > sizes.get("test", 0)
    # every doc exactly once, keeper shared within pairs
    assert sum(sizes.values()) == 200


def test_dsir_selects_target_domain(spark):
    """Semantic sanity: the target domain's own documents must be
    heavily over-represented in the selection (the paper's premise —
    target-like data scores high). src0 is 1/20 of the corpus; demand
    >3x over-representation among the selected 100."""
    from deltalake_poc_spark.pipeline.sample import dsir_select
    from deltalake_poc_spark.analytics.io import load_table

    docs = load_table(spark, "/root/testdata/sf0.01", "documents")
    sel = dsir_select(docs, "src0", budget=100).collect()
    n_target = sum(1 for r in sel if r["source"] == "src0")
    assert n_target >= 15, n_target


@pytest.mark.parametrize("sf", ["sf0.001", "sf0.01", "sf0.1"])
def test_quality_classifier_margins_pinned(spark, oracles, sf):
    """quality_classifier's keep decides on the raw margin z
    (bit-deterministic double chain), but z and score are ROUNDED
    outputs (6dp / 4dp) and score passes through exp(). Pin the margin
    invariant at every SF: no unrounded value sits near a rounding
    boundary, and no z sits near the keep threshold — so a <=1-ulp
    exp()/arithmetic difference can never flip a hashed value."""
    from pyspark.sql import functions as F

    from deltalake_poc_spark.analytics.io import load_table
    from deltalake_poc_spark.pipeline.text import QUALITY_CLF, tokens_col

    sf_dir = f"/root/testdata/{sf}"
    compare_to_oracle(QUERIES["quality_classifier"](spark, sf_dir),
                      oracles["quality_classifier"], sf_dir)

    docs = load_table(spark, sf_dir, "documents")
    toks = tokens_col()
    n_tokens = F.size(toks)
    n_chars = F.length(F.col("text"))
    n_stop = F.size(F.filter(
        toks, lambda t: t.isin("the", "a", "of", "and", "to", "in", "is")))
    alpha_chars = F.length(F.regexp_replace(F.col("text"), "[^a-zA-Z]", ""))
    n_distinct = F.size(F.array_distinct(toks))
    w = QUALITY_CLF
    z = (F.lit(w["bias"])
         + F.lit(w["mean_token_len"]) * ((n_chars - n_tokens + 1) / n_tokens)
         + F.lit(w["stopword_ratio"]) * (n_stop / n_tokens)
         + F.lit(w["alpha_ratio"]) * (alpha_chars / n_chars)
         + F.lit(w["distinct_ratio"]) * (n_distinct / n_tokens)
         + F.lit(w["log10_tokens"]) * F.log10(n_tokens.cast("double")))
    score = F.lit(1.0) / (F.lit(1.0) + F.exp(-z))

    def margin(col, scale):
        s = col * scale
        return F.abs(s - F.floor(s) - 0.5)

    m = docs.select(
        margin(z, 1_000_000).alias("mz"),
        margin(score, 10_000).alias("ms"),
        F.abs(z).alias("thr"),
    ).agg(F.min("mz").alias("mz"), F.min("ms").alias("ms"),
          F.min("thr").alias("thr")).collect()[0]
    assert m["mz"] > 1e-8, f"z within {m['mz']} of a 6dp boundary"
    assert m["ms"] > 1e-8, f"score within {m['ms']} of a 4dp boundary"
    assert m["thr"] > 1e-9, f"z within {m['thr']} of the keep threshold"


def test_bench_extra_queries_run(spark):
    """bench_extra_queries holds benched-but-not-driver-gated ops
    (non-SQL-recomputable outputs); they must still run end-to-end so
    bench.py never discovers rot first."""
    extras = entrymod.bench_extra_queries()
    assert "kmeans_minibatch_clusters" in extras
    for fn in extras.values():
        assert fn(spark, SF_DIR).count() >= 0
