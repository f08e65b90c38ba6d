"""Training-data pipeline ops: dedup (exact/minhash/simhash/ngram/
embedding), similarity search (brute force + LSH ANN), text analysis,
multimodal plumbing."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from deltalake_poc_spark.pipeline import dedup, multimodal, similarity, text

DOCS = [
    (0, "the quick brown fox jumps over the lazy dog near the old river bank today"),
    (1, "the quick brown fox jumps over the lazy dog near the old river bank tonight"),  # near-dup of 0
    (2, "completely different words about spark engines and distributed queries here"),
    (3, "the quick brown fox jumps over the lazy dog near the old river bank today"),  # exact dup of 0
    (4, "tiny doc"),
]


@pytest.fixture()
def docs(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string")


def test_exact_duplicates(spark, docs):
    groups = dedup.exact_duplicates(docs).collect()
    dup_group = [g for g in groups if g["n_copies"] > 1]
    assert len(dup_group) == 1
    assert dup_group[0]["keep_doc_id"] == 0
    kept = dedup.dedup_exact(docs)
    assert kept.count() == 4
    assert 3 not in [r["doc_id"] for r in kept.collect()]


def test_ngram_jaccard(spark, docs):
    pairs = {(r["doc_a"], r["doc_b"]): r["jaccard"]
             for r in dedup.ngram_jaccard_pairs(docs, threshold=0.2).collect()}
    assert (0, 3) in pairs and pairs[(0, 3)] == 1.0       # exact dup
    assert (0, 1) in pairs and 0.5 < pairs[(0, 1)] < 1.0  # near dup
    assert (0, 2) not in pairs


def test_ngram_hot_gram_cap(spark):
    """A ubiquitous gram must not blow up the candidate-pair count:
    with max_df set, the boilerplate footer is excluded from both the
    posting list and per-doc counts, so unrelated docs produce NO pair
    and true near-dups still match on their informative grams."""
    footer = "copyright acme corp all rights reserved"
    rows = [(i, f"unique words number{i} alpha{i} beta{i} gamma{i} {footer}")
            for i in range(40)]
    # one real near-dup pair sharing informative grams
    rows.append((100, f"the quick brown fox jumps over the lazy dog {footer}"))
    rows.append((101, f"the quick brown fox jumps over the lazy dog {footer}"))
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    capped = dedup.ngram_jaccard_pairs(docs, threshold=0.05, max_df=10)
    pairs = {(r["doc_a"], r["doc_b"]): r["jaccard"] for r in capped.collect()}
    # true dup survives (their informative grams are sub-cap) at full score
    assert pairs.get((100, 101)) == 1.0
    # boilerplate-only overlaps are gone: without the cap every one of
    # the 40 unrelated docs pairs with every other via the footer
    assert all({a, b} == {100, 101} for a, b in pairs)

    uncapped = dedup.ngram_jaccard_pairs(docs, threshold=0.05)
    assert uncapped.count() > 40 * 39 / 2  # quadratic blowup is real


def test_ngram_capless_carried_counts_match_count_join_form(spark):
    """Output-identity pin for the r12 carried-counts rewrite: the
    carried n_grams attribute + min() pickup must produce exactly the
    pairs the count-join re-attach form produces. A max_df >= the
    corpus doc count filters nothing, so the CAPPED branch (which
    keeps the count-join formulation) is the count-join oracle —
    every (pair, jaccard) must agree, including sub-threshold
    exclusions, on a corpus with exact dups, overlapping near-dups,
    and no-gram shorts. NOTE the df>=2 join-side prefilter is present
    on BOTH sides here, so this test pins carried-vs-count-join only;
    the prefilter's own correctness is pinned by the DuckDB oracles
    (test_entry_oracle.py recomputes exact string-gram Jaccard for
    every consumer query). Also pins that the expensive gram
    expression is not re-evaluated for the carried count: the capless
    plan tokenizes ONCE per join side (2 document-scan nodes, not the
    pre-r12 4)."""
    rows = [(0, "alpha beta gamma delta epsilon zeta"),
            (1, "alpha beta gamma delta epsilon eta"),
            (2, "one two three four five six seven"),
            (3, "alpha beta gamma delta epsilon zeta"),
            (4, "one two three four five range probe"),
            (5, "xx yy"),  # < n tokens: no grams at all
            (6, "totally unrelated content words here")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    capless = dedup.ngram_jaccard_pairs(docs, threshold=0.1)
    noop_cap = dedup.ngram_jaccard_pairs(docs, threshold=0.1,
                                         max_df=len(rows))
    got = {(r["doc_a"], r["doc_b"]): r["jaccard"] for r in capless.collect()}
    want = {(r["doc_a"], r["doc_b"]): r["jaccard"]
            for r in noop_cap.collect()}
    assert got == want and (0, 3) in got and got[(0, 3)] == 1.0
    # fresh (un-executed) frame: the executed one's explain string
    # would append AQE's Initial Plan section and double-count scans
    plan = dedup.ngram_jaccard_pairs(docs, threshold=0.1)\
        ._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode
            .fromString("formatted"))
    # formatted mode names each node twice (tree line + detail
    # header), so 2 physical scans == 4 mentions; the pre-r12
    # count-join plan had 4 scans == 8 mentions
    assert plan.count("Scan ") <= 4, plan[:800]


def test_minhash_lsh(spark, docs):
    pairs = {(r["doc_a"], r["doc_b"]): r["jaccard"]
             for r in dedup.minhash_lsh_pairs(docs, threshold=0.5).collect()}
    assert pairs.get((0, 3)) == 1.0
    assert (0, 1) in pairs           # near dup caught by banding
    assert (0, 2) not in pairs
    # verified jaccard is exact (same value as the exact algorithm)
    exact = {(r["doc_a"], r["doc_b"]): r["jaccard"]
             for r in dedup.ngram_jaccard_pairs(docs, threshold=0.5).collect()}
    for k, v in pairs.items():
        assert exact[k] == v


def test_simhash(spark, docs):
    sigs = {r["doc_id"]: r["simhash"]
            for r in dedup.simhash_signatures(docs).collect()}
    assert sigs[0] == sigs[3]  # identical text -> identical signature
    pairs = {(r["doc_a"], r["doc_b"]): r["hamming"]
             for r in dedup.simhash_pairs(docs, max_hamming=6).collect()}
    assert pairs.get((0, 3)) == 0
    assert (0, 2) not in pairs

    # a 1-token change in a 50-token doc perturbs only ~a few bits:
    # that's the regime SimHash blocking is built for (short docs flip
    # too many bits — each bit is a ±1 majority over tokens)
    words = [f"w{i}" for i in range(50)]
    near = spark.createDataFrame(
        [(5, " ".join(words)), (6, " ".join(words[:-1] + ["CHANGED"]))],
        "doc_id long, text string")
    near_pairs = {(r["doc_a"], r["doc_b"]): r["hamming"]
                  for r in dedup.simhash_pairs(near, max_hamming=10).collect()}
    assert (5, 6) in near_pairs and near_pairs[(5, 6)] <= 10


def test_signature_formulations_are_bit_exact(spark):
    """The optimized signature paths (one-pass SimHash bit counting,
    two-level MinHash hashing) must stay bit-exact with the
    definitional per-bit / per-function formulations — edge cases
    included (empty text, fewer tokens than the shingle width, unicode,
    signed xxhash64 values exercising bits 62/63)."""
    rows = [
        (0, "the quick brown fox jumps over the lazy dog"),
        (1, ""),
        (2, "one"),
        (3, "two tokens"),
        (4, "héllo wörld ünïcode tökens here and more of them"),
        (5, " ".join(f"w{i}" for i in range(200))),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    # SimHash reference: per-bit filter/size scan (the pre-r3 shape)
    for portable in (True, False):
        bits = 62 if portable else 64
        toks = F.array_distinct(F.split(F.trim(F.col("text")), " "))
        if portable:
            hashes = F.transform(
                toks,
                lambda t: dedup.portable_token_hash(t, 137)
                * F.lit(1 << 31).cast("long")
                + dedup.portable_token_hash(t, 131))
        else:
            hashes = F.transform(toks, lambda t: F.xxhash64(t))

        def _bit_set(b):
            return lambda h: F.shiftright(h, b).bitwiseAND(F.lit(1)) == 1

        sig = None
        for b in range(bits):
            nset = F.size(F.filter(F.col("__h"), _bit_set(b)))
            term = F.when(
                nset * 2 > F.col("__n"),
                F.lit((1 << b) if b < 63 else -(1 << 63)).cast("long"),
            ).otherwise(F.lit(0).cast("long"))
            sig = term if sig is None else (sig + term)
        ref = {r["doc_id"]: r["simhash"] for r in
               docs.select("doc_id", hashes.alias("__h"))
               .withColumn("__n", F.size("__h"))
               .select("doc_id", sig.alias("simhash")).collect()}
        got = {r["doc_id"]: r["simhash"] for r in
               dedup.simhash_signatures(docs, portable=portable).collect()}
        assert got == ref, f"portable={portable}"

    # MinHash reference: per-function string hashing over the same
    # two-level domain (xxhash64 of the shingle string)
    def _mh(i):
        # one-arg closure per fn: a default-arg lambda would be read
        # as a two-arg (element, index) HOF lambda by PySpark
        return lambda g: F.xxhash64(F.xxhash64(g), F.lit(i))

    grams = dedup.doc_grams(docs, 3).filter(F.size("grams") > 0)
    ref_sig = F.array(*[
        F.array_min(F.transform("grams", _mh(i))) for i in range(64)
    ])
    ref = {r["doc_id"]: list(r["sig"]) for r in
           grams.select("doc_id", ref_sig.alias("sig")).collect()}
    got = {r["doc_id"]: list(r["sig"]) for r in
           dedup.minhash_signatures(docs, 64, 3).collect()}
    assert got == ref
    # docs with zero shingles are dropped, never all-null-signatured
    assert set(got) == {0, 4, 5}


def test_connected_components_and_groups(spark):
    # components: {1,2,3,7} (chain 1-2, 2-3, 3-7), {5,9}; 4 isolated
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 7), (5, 9)], "doc_a long, doc_b long")
    comp = {r["doc_id"]: r["group_id"]
            for r in dedup.connected_components(pairs).collect()}
    assert comp == {1: 1, 2: 1, 3: 1, 7: 1, 5: 5, 9: 5}
    docs = spark.createDataFrame([(i,) for i in (1, 2, 3, 4, 5, 7, 9)],
                                 "doc_id long")
    groups = {r["doc_id"]: (r["keep_doc_id"], r["is_kept"])
              for r in dedup.dedup_groups(docs, pairs).collect()}
    assert groups[4] == (4, True)      # isolated doc keeps itself
    assert groups[2] == (1, False)
    assert groups[1] == (1, True)
    assert groups[9] == (5, False)
    # end-to-end: groups from actual minhash pairs on the doc fixture
    d = spark.createDataFrame(DOCS, "doc_id long, text string")
    mp = dedup.minhash_lsh_pairs(d, threshold=0.5)
    g = {r["doc_id"]: r["keep_doc_id"]
         for r in dedup.dedup_groups(d, mp).collect()}
    assert g[3] == 0 and g[1] == 0     # near/exact dups of doc 0 collapse
    assert g[2] == 2 and g[4] == 4


def test_connected_components_regime_boundary(spark):
    """Both connected-components regimes (driver union-find vs
    distributed large-star/small-star) must agree exactly at the
    threshold boundary: the same edge set one edge under and one edge
    over ``driver_threshold`` yields identical components."""
    # 3 chains of 4 nodes + one isolated pair = 11 edges
    edges = [(i, i + 1) for i in range(0, 3)] \
        + [(i, i + 1) for i in range(10, 13)] \
        + [(i, i + 1) for i in range(20, 23)] \
        + [(30, 31), (31, 30)]  # duplicate-ish edge keeps count at 11
    pairs = spark.createDataFrame(edges, "doc_a long, doc_b long")
    expect = {**{i: 0 for i in range(4)},
              **{i: 10 for i in range(10, 14)},
              **{i: 20 for i in range(20, 24)},
              30: 30, 31: 30}
    driver = {r["doc_id"]: r["group_id"] for r in
              dedup.connected_components(
                  pairs, driver_threshold=len(edges)).collect()}
    dist = {r["doc_id"]: r["group_id"] for r in
            dedup.connected_components(
                pairs, driver_threshold=len(edges) - 1).collect()}
    assert driver == expect
    assert dist == expect
    assert dedup.LAST_CC_INFO["regime"] == "star"


def test_alternating_star_matches_union_find_random_graphs(spark):
    """The alternating large-star/small-star algorithm must agree
    with driver union-find on adversarial shapes: long chains (the
    case min-label propagation is round-bound on), cliques, stars
    with a whale hub, and seeded random graphs. Also pins the O(log n)
    round claim: a 64-node chain must converge in <= 10 rounds, where
    min-label needs ~diameter."""
    import random

    def uf(edges):
        parent = {}

        def find(x):
            while parent.get(x, x) != x:
                x = parent[x]
            return x

        for a, b in edges:
            ra, rb = find(a), find(b)
            if ra != rb:
                lo, hi = min(ra, rb), max(ra, rb)
                parent[hi] = lo
        return {m: find(m) for e in edges for m in e}

    rng = random.Random(13)
    graphs = [
        [(i, i + 1) for i in range(63)],                    # chain
        [(i, j) for i in range(8) for j in range(i + 1, 8)],  # clique
        [(0, i) for i in range(1, 40)],                     # whale star
        [(rng.randrange(100), rng.randrange(100)) for _ in range(80)],
    ]
    for gi, edges in enumerate(graphs):
        edges = [(a, b) for a, b in edges if a != b]
        pairs = spark.createDataFrame(edges, "doc_a long, doc_b long")
        got = {r["doc_id"]: r["group_id"] for r in
               dedup.connected_components(
                   pairs, driver_threshold=0,
                   max_iterations=30).collect()}
        assert got == uf(edges), f"graph {gi}"
        if gi == 0:
            assert dedup.LAST_CC_INFO["rounds"] <= 10


def test_embedding_neardup(spark):
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0], 0),
        (1, [0.999, 0.01, 0.0, 0.0], 0),   # near-dup of 0
        (2, [0.0, 1.0, 0.0, 0.0], 0),      # orthogonal
        (3, [1.0, 0.0, 0.0, 0.0], 1),      # same vec, different block
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    pairs = {(r["vec_a"], r["vec_b"]): r["cosine"]
             for r in dedup.embedding_neardup_pairs(emb, threshold=0.95).collect()}
    assert (0, 1) in pairs and pairs[(0, 1)] > 0.99
    assert (0, 2) not in pairs
    assert (0, 3) not in pairs  # blocking excludes cross-label pairs


def test_embedding_neardup_zero_vector_pairs_with_nothing(spark):
    """An all-zero embedding must NOT be flagged a near-dup of its
    whole block: unguarded, its cosine is 0/0 = NaN and Spark orders
    NaN above every double, so `cosine >= threshold` passes. The
    norm guard maps it to cosine 0 instead (ADVICE r6)."""
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0], 0),
        (1, [1.0, 0.0, 0.0, 0.0], 0),      # true dup of 0
        (2, [0.0, 0.0, 0.0, 0.0], 0),      # zero vector, same block
    ]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int")
    got = dedup.embedding_neardup_pairs(emb, threshold=0.9).collect()
    pairs = {(r["vec_a"], r["vec_b"]) for r in got}
    assert pairs == {(0, 1)}
    assert all(r["cosine"] == r["cosine"] for r in got)  # no NaN


def test_cosine_topk(spark):
    rows = [(i, [float(i == j) for j in range(4)], 0) for i in range(4)]
    rows.append((9, [0.9, 0.1, 0.0, 0.0], 0))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    got = similarity.cosine_topk(emb, [1.0, 0.0, 0.0, 0.0], k=2,
                                 exclude_vec_id=0).collect()
    assert [r["vec_id"] for r in got] == [9, 1]
    assert got[0]["cosine"] > 0.99


def test_ann_lsh_recall(spark):
    rs = np.random.RandomState(7)
    vecs = rs.normal(size=(200, 16))
    # plant true neighbors: vectors 1..5 are the query plus small noise
    for i in range(1, 6):
        vecs[i] = vecs[0] + rs.normal(scale=0.15, size=16)
    rows = [(i, [float(x) for x in vecs[i]], 0) for i in range(200)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    q = [float(x) for x in vecs[0]]
    exact = [r["vec_id"] for r in
             similarity.cosine_topk(emb, q, k=5, exclude_vec_id=0).collect()]
    approx = [r["vec_id"] for r in
              similarity.ann_lsh_topk(emb, q, k=5, n_planes=6, n_tables=8,
                                      exclude_vec_id=0).collect()]
    # multi-table LSH recovers the true top-5 (deterministic seeds; measured 1.0)
    recall = len(set(exact) & set(approx)) / 5
    assert recall >= 0.9, f"recall {recall}: exact={exact} approx={approx}"
    # and the query vector's own bucket always contains itself
    self_hit = similarity.ann_lsh_topk(emb, q, k=1, n_planes=6, n_tables=8)
    assert self_hit.collect()[0]["vec_id"] == 0

    # the short-circuit AND-chain match inside ann_lsh_topk must agree
    # with bucket-integer equality from lsh_bucket_expr (the
    # index-build path a bucket-partitioned layout would use at scale)
    hp = similarity.hyperplanes(16, 6, 8, 42)
    with_buckets = emb.select(
        "vec_id", *[similarity.lsh_bucket_expr(F.col("embedding"),
                                               hp[t]).alias(f"b{t}")
                    for t in range(8)])
    q_buckets = []
    for t in range(8):
        bits = 0
        for p_idx in range(6):
            if similarity.left_fold_dot(q, hp[t, p_idx]) > 0:
                bits += 2 ** p_idx
        q_buckets.append(bits)
    cond = None
    for t in range(8):
        this = F.col(f"b{t}") == q_buckets[t]
        cond = this if cond is None else (cond | this)
    by_bucket = {r["vec_id"] for r in
                 with_buckets.filter(cond).select("vec_id").collect()}
    # candidate set reachable through the public API: everything the
    # top-k over ALL candidates can return (k >= corpus size)
    by_match = {r["vec_id"] for r in
                similarity.ann_lsh_topk(emb, q, k=500, n_planes=6,
                                        n_tables=8).collect()}
    assert by_match == by_bucket


def test_ivf_topk_recall(spark):
    rs = np.random.RandomState(11)
    vecs = rs.normal(size=(300, 16))
    for i in range(1, 6):
        vecs[i] = vecs[0] + rs.normal(scale=0.1, size=16)
    rows = [(i, [float(x) for x in vecs[i]], 0) for i in range(300)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    q = [float(x) for x in vecs[0]]
    assigned, centers = similarity.ivf_build(emb, n_clusters=8)
    exact = [r["vec_id"] for r in
             similarity.cosine_topk(emb, q, k=5, exclude_vec_id=0).collect()]
    approx = [r["vec_id"] for r in
              similarity.ivf_topk(assigned, centers, q, k=5, n_probe=3,
                                  exclude_vec_id=0).collect()]
    recall = len(set(exact) & set(approx)) / 5
    assert recall >= 0.9, f"recall {recall}: exact={exact} approx={approx}"


def test_text_analysis(spark, docs):
    tc = {r["doc_id"]: r for r in text.token_counts(docs).collect()}
    assert tc[4]["n_tokens"] == 2
    assert tc[0]["n_tokens"] == 15
    q = {r["doc_id"]: r for r in text.quality_scores(docs).collect()}
    assert q[4]["length_ok"] is False
    assert q[0]["stopword_ratio"] == 0.2  # 'the' x3 of 15 tokens
    lid = {r["doc_id"]: r["lang_pred"] for r in text.language_id(docs).collect()}
    assert lid[0] == "en"
    fp = {r["doc_id"]: r["fp_md5"] for r in text.fingerprint(docs).collect()}
    assert fp[0] == fp[3] and fp[0] != fp[1]
    top = text.top_tokens(docs, k=3).collect()
    assert top[0]["token"] == "the" and top[0]["freq"] == 9


def test_scrub_pii(spark):
    docs = spark.createDataFrame([
        (0, "contact me at alice.b@example.com or +1 (555) 123-4567 thanks"),
        (1, "ssn 123-45-6789 should vanish"),
        (2, "nothing sensitive here"),
    ], "doc_id long, text string")
    out = {r["doc_id"]: r for r in text.scrub_pii(docs).collect()}
    assert out[0]["n_email"] == 1 and out[0]["n_phone"] == 1
    assert "alice.b@example.com" not in out[0]["text_scrubbed"]
    assert "<PII>" in out[0]["text_scrubbed"]
    assert out[1]["n_ssn"] == 1 and "123-45-6789" not in out[1]["text_scrubbed"]
    assert out[2]["text_scrubbed"] == "nothing sensitive here"


def test_tf_idf(spark, docs):
    rows = text.tf_idf(docs).collect()
    by_key = {(r["doc_id"], r["token"]): r for r in rows}
    # 'the' appears in 4 docs (0,1,2... not 2? doc2 has no 'the') — df sanity
    assert by_key[(0, "the")]["tf"] == 3
    # rare tokens score higher than ubiquitous ones for same tf
    assert by_key[(2, "spark")]["tfidf"] > by_key[(0, "the")]["tfidf"] / 3


def test_multimodal_plumbing(spark):
    media = spark.range(0, 20).select(
        F.col("id").alias("media_id"),
        F.lit("image").alias("media_type"),
        multimodal.fake_image_binary(
            (F.col("id") * 100 + 640), F.lit(480) + F.col("id")
        ).alias("payload"),
    )
    decoded = multimodal.decode_media(media)
    rows = {r["media_id"]: r for r in decoded.collect()}
    assert rows[0]["width"] == 640 and rows[0]["height"] == 480
    assert rows[19]["width"] == 2540 and rows[19]["format"] == "fake"
    assert rows[0]["n_bytes"] == 16
    plan = {r["media_id"]: r for r in
            multimodal.resize_plan(decoded, max_side=512).collect()}
    assert plan[0]["target_width"] == 512       # 640x480 -> 512x384
    assert plan[0]["target_height"] == 384
    # real codecs are stubbed: non-fake payloads raise cleanly
    bad = spark.createDataFrame(
        [(1, "image", bytearray(b"JFIF....."))],
        multimodal.MEDIA_SCHEMA)
    with pytest.raises(Exception, match="NotImplementedError|FAKEIMG|decoding"):
        multimodal.decode_media(bad).collect()


def test_deterministic_sample(spark):
    from deltalake_poc_spark.pipeline.sample import (
        deterministic_sample, stratified_sample,
    )

    df = spark.range(0, 10_000).withColumnRenamed("id", "doc_id") \
        .withColumn("src", (F.col("doc_id") % 2 == 0).cast("string"))
    s1 = {r["doc_id"] for r in deterministic_sample(df, 0.2).collect()}
    s2 = {r["doc_id"] for r in deterministic_sample(df, 0.2).collect()}
    assert s1 == s2                      # reproducible
    assert 0.17 < len(s1) / 10_000 < 0.23  # rate is honored
    # a larger rate strictly extends the sample (nested thresholds)
    s3 = {r["doc_id"] for r in deterministic_sample(df, 0.4).collect()}
    assert s1 < s3
    # different salt -> a different (roughly independent) selection
    s4 = {r["doc_id"] for r in deterministic_sample(df, 0.2, salt=7).collect()}
    assert s4 != s1 and 0.1 < len(s1 & s4) / len(s1) < 0.35

    strat = stratified_sample(df, {"true": 0.5, "false": 0.1}, "src")
    frac = {r["src"]: r["n"] for r in
            strat.groupBy("src").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert 0.44 < frac["true"] / 5000 < 0.56
    assert 0.06 < frac["false"] / 5000 < 0.14


def test_bpe_token_stats(spark):
    rows = [
        (0, "don't stop"),              # contraction splits: don,'t,stop
        (1, "abc123!?x"),               # letter/digit runs + symbols
        (2, ""),                        # empty
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in text.bpe_token_stats(docs).collect()}
    assert out[0]["n_pieces"] == 3 and out[0]["n_words"] == 2
    # abc | 123 | ! | ? | x
    assert out[1]["n_pieces"] == 5
    assert out[1]["n_piece_chars"] == 9
    assert out[1]["est_subwords"] == 3   # ceil(9/4)
    assert out[2]["n_pieces"] == 0 and out[2]["est_subwords"] == 0


def test_streaming_dedup_exact(spark, tmp_path):
    """Stream two micro-batches with intra- and cross-batch duplicate
    texts; the snapshot table ends deduped with earliest arrival kept."""
    import json
    import os

    from deltalake_poc_spark.pipeline.dedup import streaming_dedup_exact
    from deltalake_poc_spark.tables import VersionedTable

    src = tmp_path / "in"
    os.makedirs(src)
    b1 = [{"doc_id": 1, "text": "alpha beta"},
          {"doc_id": 2, "text": "Alpha  Beta"},   # dup of 1 (normalized)
          {"doc_id": 3, "text": "gamma"}]
    b2 = [{"doc_id": 4, "text": "alpha beta"},    # dup across batches
          {"doc_id": 5, "text": "delta"}]
    (src / "b1.json").write_text("\n".join(json.dumps(r) for r in b1))
    (src / "b2.json").write_text("\n".join(json.dumps(r) for r in b2))

    stream = (spark.readStream.schema("doc_id long, text string")
              .option("maxFilesPerTrigger", "1").json(str(src)))
    q = streaming_dedup_exact(stream, str(tmp_path / "t"),
                              str(tmp_path / "ckpt"), available_now=True)
    q.awaitTermination(120)

    rows = VersionedTable.for_path(spark, str(tmp_path / "t")).read().collect()
    by_id = sorted(r["doc_id"] for r in rows)
    # one row per distinct normalized text; ids 1/3 from b1, 5 from b2
    # (file order within availableNow is lexicographic: b1 then b2)
    assert by_id == [1, 3, 5]


def test_repetition_signals(spark):
    rows = [
        (0, "a b a b a"),     # bigrams: ab ba ab ba -> n=4 nd=2 top=2
                              # trigrams: aba bab aba -> n=3 nd=2 top=2
        (1, "x y z"),         # bigrams: xy yz -> n=2 nd=2 top=1; tri n=1
        (2, "solo"),          # too short for any gram
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r.asDict() for r in
           text.repetition_signals(docs).collect()}
    assert got[0]["n_bigrams"] == 4
    assert got[0]["n_distinct_bigrams"] == 2
    assert got[0]["top_bigram_count"] == 2
    assert got[0]["n_trigrams"] == 3
    assert got[0]["n_distinct_trigrams"] == 2
    assert got[0]["top_trigram_count"] == 2
    assert got[1]["n_bigrams"] == 2
    assert got[1]["top_bigram_count"] == 1
    assert got[1]["n_trigrams"] == 1
    assert got[2]["n_bigrams"] == 0
    assert got[2]["top_trigram_count"] == 0


def test_contamination_counts(spark):
    bench = spark.createDataFrame(
        [(100, "alpha beta gamma delta epsilon zeta")],
        "doc_id long, text string")
    cands = spark.createDataFrame(
        [
            # shares the 2 distinct 5-grams that span positions 1-6
            (0, "alpha beta gamma delta epsilon zeta eta"),
            # shares exactly 1 (the first 5 tokens)
            (1, "alpha beta gamma delta epsilon other words here"),
            (2, "unrelated text with no overlap at all"),
            (3, "tiny"),
        ],
        "doc_id long, text string")
    got = {r["doc_id"]: r["n_overlap_grams"] for r in
           dedup.contamination_counts(cands, bench, n=5).collect()}
    assert got == {0: 2, 1: 1}


def test_winnow_guarantee_and_pairs(spark):
    """Winnowing guarantee: a shared run of >= n + window - 1 tokens
    must produce a shared fingerprint; disjoint docs produce none."""
    shared_run = "alpha beta gamma delta epsilon zeta eta theta"  # 8 tokens
    rows = [
        (0, f"{shared_run} one two three four five"),
        (1, f"nine eight seven {shared_run}"),          # shares the run
        (2, "completely different words with no common spans at all x y"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    for portable in (True, False):
        pairs = {(r["doc_a"], r["doc_b"]): r["n_shared"]
                 for r in dedup.winnow_pairs(
                     docs, n=5, window=4, min_shared=1,
                     portable=portable).collect()}
        assert (0, 1) in pairs and pairs[(0, 1)] >= 1, portable
        assert all(2 not in k for k in pairs), portable


def test_dedup_scratch_caches_keyed_by_parameters(spark):
    """Calls with different tuning parameters keep separate scratch
    caches: the second call must not release the first call's (a
    shared key would unpersist a frame the first caller still reads)."""
    from deltalake_poc_spark.analytics import scratch

    docs = spark.createDataFrame(
        [(0, "a b c d e f g h"), (1, "a b c d e f g h i")],
        "doc_id long, text string")
    scratch.release_scratch()  # start from no caches left by other tests
    dedup.winnow_pairs(docs, n=5, window=4)
    dedup.winnow_pairs(docs, n=4, window=3)
    dedup.minhash_lsh_pairs(docs, shingle_n=3)
    dedup.minhash_lsh_pairs(docs, shingle_n=2)
    try:
        for prefix in ("dedup.winnow.posting.", "dedup.minhash.banded."):
            keys = [k for k in scratch._SCRATCH if k.startswith(prefix)]
            assert len(keys) == 2, (prefix, keys)
    finally:
        scratch.release_scratch()


def test_winnow_fingerprints_shape(spark):
    docs = spark.createDataFrame(
        [(0, "a b c d e f g h i j"), (1, "short doc")],
        "doc_id long, text string")
    got = {r["doc_id"]: r for r in
           dedup.winnow_fingerprints(docs, n=5, window=4,
                                     portable=True).collect()}
    # doc 0: 6 grams -> 3 windows -> <= 3 distinct fps
    assert 1 <= got[0]["n_fps"] <= 3
    # doc 1: fewer tokens than n -> zero grams -> zero fps
    assert got[1]["n_fps"] == 0


def test_pack_sequences_semantics(spark):
    """Shard-parallel fixed-budget packing invariants on a hand-built
    corpus: no doc lost, overflow docs stay in the sequence where
    their running total started, and every sequence except a shard's
    last reaches the budget."""
    from pyspark.sql import functions as F

    from deltalake_poc_spark.pipeline.text import pack_sequences

    # one shard: tokens 4,4,4,4,4,2; budget 10. Fixed-grid semantics:
    # doc2 STARTS at running 8 (<10) so it overflows seq0 (12 tokens);
    # docs 3,4 start at 12,16 -> seq1 (8 tokens — the overflow ate
    # into seq1's window); doc5 starts at 20 -> seq2
    docs = spark.createDataFrame(
        [(i, " ".join(["w"] * n)) for i, n in
         enumerate([4, 4, 4, 4, 4, 2])],
        "doc_id long, text string")
    out = {(r["seq_id"]): (r["n_docs"], r["seq_tokens"])
           for r in pack_sequences(docs, budget=10, n_shards=1).collect()}
    assert out == {0: (3, 12), 1: (2, 8), 2: (1, 2)}

    # corpus-level invariants at a real SF: no doc lost, and every
    # non-final sequence within one max-doc-length of the budget
    from deltalake_poc_spark.analytics.io import load_table
    from deltalake_poc_spark.pipeline.text import tokens_col

    corpus = load_table(spark, "/root/testdata/sf0.001", "documents")
    packed = pack_sequences(corpus, budget=256, n_shards=32)
    assert packed.agg(F.sum("n_docs")).collect()[0][0] == corpus.count()
    max_doc = corpus.select(
        F.max(F.size(tokens_col())).alias("m")).collect()[0]["m"]
    last_per_shard = packed.groupBy("shard").agg(
        F.max("seq_id").alias("last"))
    non_last = packed.join(
        last_per_shard,
        (packed.shard == last_per_shard.shard)
        & (packed.seq_id == last_per_shard.last), "left_anti")
    bad = non_last.filter(
        (F.col("seq_tokens") <= 256 - max_doc)
        | (F.col("seq_tokens") >= 256 + max_doc)).count()
    assert bad == 0, f"{bad} non-final sequences outside budget±max_doc"


def test_quality_classifier_row_local(spark):
    """The classifier is a map-only pass: no Exchange in the plan."""
    from deltalake_poc_spark.analytics.io import load_table
    from deltalake_poc_spark.pipeline.text import quality_classifier

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    plan = quality_classifier(docs)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "Exchange" not in plan, plan[:500]
    assert "EvalPython" not in plan, plan[:500]


def test_incremental_signature_store(spark, docs, tmp_path):
    """Batch-vs-corpus dedup through the persisted signature store:
    decisions, store growth, and idempotent re-ingest."""
    store = dedup.signature_store_init(spark, str(tmp_path / "store"))
    # seed with docs 0 and 2; ingest 1 (near-dup of 0), 3 (exact dup
    # of 0), 4 (too short to sign)
    dedup.signature_store_append(store, docs.filter("doc_id IN (0, 2)"))
    assert store.read().count() == 2
    batch = docs.filter("doc_id IN (1, 3, 4)")

    decisions = dedup.incremental_minhash_dedup(
        store, batch, bands=32, threshold=0.3, rescore_texts=docs)
    rows = {r["doc_id"]: r for r in decisions.collect()}
    # doc 4 has <3 tokens: no signature, not judged
    assert set(rows) == {1, 3}
    assert rows[1]["n_store_dups"] == 1 and not rows[1]["kept"]
    assert rows[3]["n_store_dups"] == 1 and not rows[3]["kept"]
    # nothing survived, so the store is unchanged
    assert store.read().count() == 2

    # a genuinely new doc survives and its signature is committed
    fresh = spark.createDataFrame(
        [(10, "totally novel sentence mentioning astronomy telescopes "
              "and orbital mechanics")], "doc_id long, text string")
    d2 = dedup.incremental_minhash_dedup(
        store, fresh, bands=32, threshold=0.3, rescore_texts=fresh)
    assert [r["kept"] for r in d2.collect()] == [True]
    assert store.read().count() == 3

    # idempotent re-ingest: replaying the same batch drops everything
    # (each doc now matches its own stored signature) — the estimate
    # path needs no text for this
    d3 = dedup.incremental_minhash_dedup(store, fresh, bands=32,
                                         threshold=0.3)
    r3 = d3.collect()[0]
    assert r3["n_store_dups"] >= 1 and not r3["kept"]
    assert store.read().count() == 3


def test_incremental_estimate_matches_exact_on_clear_cases(spark, docs):
    """Signature-agreement verification agrees with exact Jaccard when
    similarities are far from the threshold (the production contract:
    the estimator's error is ~1/sqrt(num_hashes) ≈ 0.125 at 64 hashes,
    so J=1.0 dups and J≈0 non-dups are always classified right)."""
    import tempfile

    exact_store = dedup.signature_store_init(
        spark, tempfile.mkdtemp(prefix="sig_ex_"))
    est_store = dedup.signature_store_init(
        spark, tempfile.mkdtemp(prefix="sig_es_"))
    seed = docs.filter("doc_id IN (0, 2)")
    dedup.signature_store_append(exact_store, seed)
    dedup.signature_store_append(est_store, seed)
    batch = docs.filter("doc_id IN (1, 3)")
    exact = dedup.incremental_minhash_dedup(
        exact_store, batch, bands=32, threshold=0.3, rescore_texts=docs,
        commit=False)
    est = dedup.incremental_minhash_dedup(
        est_store, batch, bands=32, threshold=0.3, commit=False)
    assert ({(r["doc_id"], r["kept"]) for r in exact.collect()}
            == {(r["doc_id"], r["kept"]) for r in est.collect()})


def test_streaming_dedup_minhash(spark, tmp_path):
    """Stream two micro-batches through the signature store: near-dups
    are dropped within and across batches; the store ends with one
    signature per surviving doc and replay-idempotence holds."""
    import json
    import os

    from deltalake_poc_spark.pipeline.dedup import streaming_dedup_minhash
    from deltalake_poc_spark.tables import VersionedTable

    base = "the quick brown fox jumps over the lazy dog near the river"
    src = tmp_path / "in"
    os.makedirs(src)
    b1 = [{"doc_id": 1, "text": base + " today"},
          {"doc_id": 2, "text": base + " tonight"},      # near-dup of 1
          {"doc_id": 3, "text": "unrelated words about distributed "
                                "query engines and shuffle plans"}]
    b2 = [{"doc_id": 4, "text": base + " today"},        # dup across batches
          {"doc_id": 5, "text": "another fully distinct document "
                                "regarding astronomy telescopes orbit"}]
    (src / "b1.json").write_text("\n".join(json.dumps(r) for r in b1))
    (src / "b2.json").write_text("\n".join(json.dumps(r) for r in b2))

    stream = (spark.readStream.schema("doc_id long, text string")
              .option("maxFilesPerTrigger", "1").json(str(src)))
    q = streaming_dedup_minhash(
        stream, str(tmp_path / "store"), str(tmp_path / "ckpt"),
        bands=32, threshold=0.3,
        decisions_root=str(tmp_path / "audit"), available_now=True)
    q.awaitTermination(120)

    store = VersionedTable.for_path(spark, str(tmp_path / "store"))
    kept = sorted(r["doc_id"] for r in store.read().collect())
    assert kept == [1, 3, 5]
    audit = VersionedTable.for_path(spark, str(tmp_path / "audit")).read()
    decisions = {r["doc_id"]: r for r in audit.collect()}
    assert decisions[2]["n_peer_dups"] == 1 and not decisions[2]["kept"]
    assert decisions[4]["n_store_dups"] >= 1 and not decisions[4]["kept"]
    assert decisions[5]["kept"]


def test_streaming_dedup_minhash_compacts(spark, tmp_path):
    """optimize_every folds the store's per-batch append files back
    into ~one file so the probe-side scan doesn't degrade."""
    import json
    import os

    from deltalake_poc_spark.pipeline.dedup import streaming_dedup_minhash
    from deltalake_poc_spark.tables import VersionedTable

    src = tmp_path / "in"
    os.makedirs(src)
    for b in range(4):
        rows = [{"doc_id": b * 10 + i,
                 "text": " ".join(f"w{b}_{i}_{k}" for k in range(8))}
                for i in range(3)]
        (src / f"b{b}.json").write_text(
            "\n".join(json.dumps(r) for r in rows))

    stream = (spark.readStream.schema("doc_id long, text string")
              .option("maxFilesPerTrigger", "1").json(str(src)))
    q = streaming_dedup_minhash(
        stream, str(tmp_path / "store"), str(tmp_path / "ckpt"),
        bands=16, threshold=0.5, optimize_every=2, available_now=True)
    q.awaitTermination(180)

    store = VersionedTable.for_path(spark, str(tmp_path / "store"))
    assert store.read().count() == 12
    # 4 append commits + 2 OPTIMIZE commits ran; the final snapshot is
    # the last compaction's output plus appends after it
    hist_ops = [h["operation"] for h in store.history()]
    assert hist_ops.count("OPTIMIZE") == 2, hist_ops
    assert len(store.snapshot().files) < 4, store.snapshot().files


from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st


@settings(max_examples=5, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    corpus=st.lists(
        st.tuples(
            st.integers(0, 39),                       # doc_id
            st.lists(st.sampled_from(                 # 6-12 words from a
                [f"w{i}" for i in range(12)]),        # tiny vocab -> real
                min_size=6, max_size=12)),            # near-dup collisions
        min_size=4, max_size=14, unique_by=lambda t: t[0]),
    split=st.integers(1, 5),
)
def test_incremental_dedup_matches_model(spark, corpus, split):
    """Exact-rescore incremental dedup vs a brute-force Python model of
    the decision rule (store match OR smaller-id batch peer match, at
    3-gram Jaccard >= 0.3, docs with <3 tokens unjudged). 32x2 banding
    recall makes the LSH result equal the model exactly."""
    import tempfile

    from deltalake_poc_spark.pipeline.dedup import (
        incremental_minhash_dedup, signature_store_append,
        signature_store_init)

    docs = sorted(corpus)
    seed = [d for i, d in enumerate(docs) if i < split]
    batch = [d for i, d in enumerate(docs) if i >= split]
    if not batch:
        return

    def grams(words):
        return {" ".join(words[i:i + 3]) for i in range(len(words) - 2)}

    def jac(a, b):
        inter = len(a & b)
        return round(inter / (len(a) + len(b) - inter), 4) if a | b else 0.0

    expected = {}
    for did, words in batch:
        g = grams(words)
        if not g:
            continue
        n_store = sum(1 for sid, sw in seed if grams(sw)
                      and jac(g, grams(sw)) >= 0.3)
        n_peer = sum(1 for pid, pw in batch
                     if pid < did and grams(pw) and jac(g, grams(pw)) >= 0.3)
        expected[did] = (n_store, n_peer, n_store == 0 and n_peer == 0)

    to_df = lambda rows: spark.createDataFrame(
        [(i, " ".join(w)) for i, w in rows], "doc_id long, text string")
    store = signature_store_init(spark, tempfile.mkdtemp(prefix="sig_hyp_"))
    if seed:
        signature_store_append(store, to_df(seed))
    all_df = to_df(docs)
    got = {
        r["doc_id"]: (r["n_store_dups"], r["n_peer_dups"], r["kept"])
        for r in incremental_minhash_dedup(
            store, to_df(batch), bands=32, threshold=0.3,
            rescore_texts=all_df, commit=False).collect()
    }
    assert got == expected


def test_chunk_dedup_removes_shared_chunk(spark):
    """A chunk duplicated across documents survives only at its first
    (doc_id, idx) occurrence; unique chunks are untouched."""
    shared = " ".join(f"w{i}" for i in range(4))
    rows = [
        (1, shared + " " + " ".join(f"a{i}" for i in range(4))),
        (2, " ".join(f"b{i}" for i in range(4)) + " " + shared),
        (3, " ".join(f"c{i}" for i in range(3))),  # short doc, one chunk
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in
           dedup.chunk_dedup(df, chunk_tokens=4).collect()}
    # doc 1 owns the first occurrence: both chunks kept
    assert out[1]["n_chunks"] == 2 and out[1]["n_kept"] == 2
    assert out[1]["dedup_text"] == rows[0][1]
    # doc 2 loses its copy of the shared chunk (idx 1), keeps chunk 0
    assert out[2]["n_chunks"] == 2 and out[2]["n_kept"] == 1
    assert out[2]["dedup_text"] == " ".join(f"b{i}" for i in range(4))
    # doc 3 untouched
    assert out[3]["n_kept"] == 1 and out[3]["dedup_text"] == rows[2][1]


def test_chunk_dedup_within_doc(spark):
    """The same chunk repeated INSIDE one document is also collapsed
    to its first occurrence."""
    c = "x0 x1 x2 x3"
    df = spark.createDataFrame([(7, c + " " + c)],
                               "doc_id long, text string")
    r = dedup.chunk_dedup(df, chunk_tokens=4).collect()[0]
    assert r["n_chunks"] == 2 and r["n_kept"] == 1
    assert r["dedup_text"] == c


def test_mixture_sample_budget_and_weights(spark):
    from deltalake_poc_spark.pipeline.sample import (LEHMER_MOD,
                                                     mixture_sample)

    rows = [(i, f"s{i % 2}", " ".join(["t"] * 10)) for i in range(200)]
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    # generous budget -> rate 1 everywhere -> everything kept
    all_kept = mixture_sample(df, token_budget=10**9)
    assert all_kept.count() == 200
    assert set(all_kept.columns) == {"doc_id", "source", "n_tokens"}
    # half budget, uniform: each stratum targets 500 tokens of its
    # 1000 -> threshold M/2 -> roughly half selected, deterministic
    half = mixture_sample(df, token_budget=1000)
    again = mixture_sample(df, token_budget=1000)
    ids = sorted(r["doc_id"] for r in half.collect())
    assert ids == sorted(r["doc_id"] for r in again.collect())
    assert 0 < len(ids) < 200
    # weighted: zero-weight stratum contributes nothing; the other is
    # fully covered by its share of a big budget
    w = mixture_sample(df, token_budget=10**9,
                       weights={"s0": 1, "s1": 0})
    srcs = {r["source"] for r in w.collect()}
    assert srcs == {"s0"}
    assert w.count() == 100


def test_chunk_dedup_empty_and_null_text(spark):
    """Empty/null text must yield NO chunks — before the sequence
    guard, ceil(0/32)=0 made sequence(0, -1) count DOWN and fabricate
    two phantom '' chunks per empty doc (md5('') collisions across
    docs and inflated n_chunks)."""
    rows = [(1, "x0 x1 x2 x3"), (2, ""), (3, None), (4, "   ")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in
           dedup.chunk_dedup(df, chunk_tokens=4).collect()}
    assert out[1]["n_chunks"] == 1 and out[1]["n_kept"] == 1
    # ''/'   ' texts: split('') == [''] in BOTH engines, so each is
    # exactly ONE '' chunk (not the two phantom chunks sequence(0,-1)
    # used to fabricate); first occurrence (doc 2) keeps it
    assert out[2]["n_chunks"] == 1 and out[2]["n_kept"] == 1
    assert out[4]["n_chunks"] == 1 and out[4]["n_kept"] == 0
    # NULL text: size(NULL tokens) is null -> guard yields zero chunks
    # -> the doc vanishes, like the oracle's NULL range
    assert 3 not in out


def test_mixture_sample_trillion_token_budget(spark):
    """Thresholds stay exact at realistic training budgets: the naive
    target * 2^31 product overflows int64 once a stratum target passes
    ~4.3e9 tokens, silently wrapping to a NEGATIVE threshold that
    drops the stratum. The rescaled formula must keep rate-1 strata
    fully selected at a 10-trillion-token budget."""
    from deltalake_poc_spark.pipeline.sample import mixture_sample

    rows = [(i, f"s{i % 2}", " ".join(["t"] * 10)) for i in range(200)]
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    big = mixture_sample(df, token_budget=10**13)
    assert big.count() == 200, "stratum dropped by int64 overflow"
    # weighted variant at the same scale
    w = mixture_sample(df, token_budget=10**13,
                       weights={"s0": 3, "s1": 1})
    assert w.count() == 200


def test_pq_fitted_recall_at_sf01(spark):
    """Hard local contract for the PRODUCTION fitting path: codebooks
    fitted by pq_fit on the sf0.1 embeddings table must recover >= 0.9
    of the exact cosine top-10 (averaged over 5 query vectors) through
    the ADC shortlist + exact rescore. The driver-gated PQ queries use
    seeded literal codebooks (SQL-oracle requirement); this pins the
    fitted path's retrieval QUALITY the way the IVF recall test does."""
    emb = spark.read.parquet("/root/testdata/sf0.1/embeddings.parquet") \
        .select("vec_id", "embedding")
    # iid-gaussian 64-dim vectors are PQ's WORST case (no cluster
    # structure, all cosines marginal), so this config is the honest
    # production one for unstructured data: k=32 centroids/subspace
    # and a 15% rescore shortlist. Measured 0.96 (deterministic:
    # pq_fit is ordered-sample seeded).
    books = similarity.pq_fit(emb, m=8, k=32, iters=8)
    enc = similarity.pq_encode(emb, books).persist()
    recalls = []
    for qid in range(5):
        q = emb.filter(F.col("vec_id") == qid).first()["embedding"]
        exact = {r["vec_id"] for r in
                 similarity.cosine_topk(emb, q, k=10,
                                        exclude_vec_id=qid).collect()}
        got = {r["vec_id"] for r in
               similarity.pq_adc_topk(enc, books, q, k=10, shortlist=300,
                                      exclude_vec_id=qid).collect()}
        recalls.append(len(exact & got) / 10)
    enc.unpersist()
    avg = sum(recalls) / len(recalls)
    assert avg >= 0.9, f"fitted-PQ recall {avg} ({recalls})"


def test_pq_fit_deterministic_and_small_sample(spark):
    """pq_fit's sample is ordered (TakeOrdered by vec_id), so the
    fitted codebooks are identical across partitionings; k is clamped
    to the sample size so tiny corpora fit without raising."""
    rs = np.random.RandomState(11)
    rows = [(i, [float(x) for x in rs.normal(size=16)], 0)
            for i in range(40)]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int")
    a = similarity.pq_fit(emb, m=4, k=8, iters=3)
    b = similarity.pq_fit(emb.repartition(7), m=4, k=8, iters=3)
    assert a == b, "codebooks depend on partitioning"
    # 5 rows < k=8: clamps instead of raising in rs.choice
    tiny = spark.createDataFrame(rows[:5],
                                 "vec_id long, embedding array<float>, label int")
    books = similarity.pq_fit(tiny, m=4, k=8, iters=2)
    assert len(books) == 4 and len(books[0]) == 5


def test_pq_adc_recall(spark):
    """Fitted PQ codebooks + ADC shortlist + exact rescore recover the
    true neighbors; the encode/ADC machinery is exact-oracle-checked
    separately (pq_topk gate query), this pins retrieval QUALITY of
    the production fitting path."""
    rs = np.random.RandomState(3)
    vecs = rs.normal(size=(300, 32))
    for i in range(1, 6):
        vecs[i] = vecs[0] + rs.normal(scale=0.1, size=32)
    rows = [(i, [float(x) for x in vecs[i]], 0) for i in range(300)]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int")
    q = [float(x) for x in vecs[0]]
    exact = [r["vec_id"] for r in
             similarity.cosine_topk(emb, q, k=5, exclude_vec_id=0).collect()]
    books = similarity.pq_fit(emb, m=8, k=16, iters=5)
    assert len(books) == 8 and len(books[0]) == 16 and len(books[0][0]) == 4
    enc = similarity.pq_encode(emb, books)
    # codes are row-local ints in [0, k)
    one = enc.select("pq_code").first()["pq_code"]
    assert len(one) == 8 and all(0 <= c < 16 for c in one)
    approx = [r["vec_id"] for r in
              similarity.pq_adc_topk(enc, books, q, k=5, shortlist=60,
                                     exclude_vec_id=0).collect()]
    recall = len(set(exact) & set(approx)) / 5
    assert recall >= 0.8, f"recall {recall}: exact={exact} approx={approx}"


def test_pq_batch_matches_single_query(spark):
    """pq_adc_topk_batch must produce, per query, exactly what the
    single-query pq_adc_topk produces (same codebooks, same shortlist,
    same tie rules)."""
    rs = np.random.RandomState(5)
    rows = [(i, [float(x) for x in rs.normal(size=16)], 0)
            for i in range(150)]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int")
    books = similarity.pq_codebooks(16, m=4, k=8, seed=2)
    enc = similarity.pq_encode(emb, books)
    queries = emb.filter(F.col("vec_id") < 3)
    batch = similarity.pq_adc_topk_batch(enc, books, queries,
                                         k=5, shortlist=30)
    got = {}
    for r in batch.collect():
        got.setdefault(r["qid"], []).append((r["vec_id"], r["cosine"]))
    assert set(got) == {0, 1, 2}
    for qid in (0, 1, 2):
        q = rows[qid][1]
        single = [(r["vec_id"], r["cosine"]) for r in
                  similarity.pq_adc_topk(enc, books, q, k=5, shortlist=30,
                                         exclude_vec_id=qid).collect()]
        assert got[qid] == single, f"qid {qid}"


def test_repeated_spans_unaligned_copy(spark):
    """A copied passage at an ARBITRARY offset (which fixed-boundary
    chunk dedup misses) is found as one maximal span in the later
    document; the first occurrence is canonical and unflagged; a doc
    with no repeats yields no row."""
    shared = " ".join(f"s{i}" for i in range(10))         # 10 tokens
    rows = [
        (1, shared + " " + " ".join(f"a{i}" for i in range(5))),
        # same passage, shifted by 3 tokens — no chunk alignment
        (2, " ".join(f"b{i}" for i in range(3)) + " " + shared
            + " " + " ".join(f"c{i}" for i in range(4))),
        (3, " ".join(f"u{i}" for i in range(12))),        # unique
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in
           dedup.repeated_spans(df, n=4).collect()}
    # doc 1 is canonical everywhere -> no duplicated windows
    assert 1 not in out and 3 not in out
    # doc 2: windows at pos 3..9 (7 windows of the shared 10 tokens)
    # merge into ONE span covering pos 3..12 = 10 tokens of 17
    r = out[2]
    assert r["n_spans"] == 1
    assert r["dup_tokens"] == 10
    assert r["total_tokens"] == 17
    assert r["dup_ratio_micro"] == 10 * 1_000_000 // 17
    # an internal self-repeat is also caught: "x0..x3 x0..x3"
    df2 = spark.createDataFrame(
        [(7, " ".join(f"x{i}" for i in range(4)) + " "
          + " ".join(f"x{i}" for i in range(4)))],
        "doc_id long, text string")
    r2 = dedup.repeated_spans(df2, n=4).collect()[0]
    assert r2["n_spans"] == 1 and r2["dup_tokens"] == 4


def test_source_overlap_matrix(spark):
    """Planted overlap: s1 and s2 share one trigram; s3 shares
    nothing. Jaccard is shared / (|a| + |b| - shared) on distinct
    per-source gram vocabularies."""
    rows = [
        (1, "a b c d", "s1"),    # grams: "a b c", "b c d"
        (2, "a b c x", "s2"),    # grams: "a b c", "b c x"
        (3, "q r s t", "s3"),    # grams: "q r s", "r s t"
        (4, "a b c d", "s1"),    # duplicate doc: no new grams for s1
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    got = {(r["src_a"], r["src_b"]): r for r in
           dedup.source_overlap(df, n=3).collect()}
    assert got[("s1", "s2")]["shared_grams"] == 1
    assert abs(got[("s1", "s2")]["jaccard"] - 1 / 3) < 1e-6
    # exact integer columns for the gate: sizes and micro-jaccard
    # (1 shared / (2 + 2 - 1) union = 333333 micro, floor division)
    assert got[("s1", "s2")]["grams_a"] == 2
    assert got[("s1", "s2")]["grams_b"] == 2
    assert got[("s1", "s2")]["jaccard_micro"] == 333333
    assert ("s1", "s3") not in got and ("s2", "s3") not in got
    # max_df=1 kills the gram present in both sources -> no pairs
    assert dedup.source_overlap(df, n=3, max_df=1).count() == 0


def test_sample_frames_plumbing(spark):
    """Video frame sampling: 1-to-many mapInPandas — stride, cap,
    timestamps, and decodable frame payloads."""
    rows = [(1, 35, 10), (2, 5, 25), (3, 200, 50)]
    media = spark.createDataFrame(
        rows, "media_id long, n_frames int, fps int").select(
        "media_id",
        multimodal.fake_video_binary(F.col("n_frames"), F.col("fps"))
        .alias("payload"))
    out = multimodal.sample_frames(media, every_nth=10, max_frames=4)
    got = {}
    for r in out.collect():
        got.setdefault(r["media_id"], []).append(r)
    # video 1: frames 0,10,20,30; video 2: frame 0; video 3: capped at 4
    assert [r["frame_idx"] for r in sorted(got[1], key=lambda r: r["frame_idx"])] == [0, 10, 20, 30]
    assert [r["frame_idx"] for r in got[2]] == [0]
    assert len(got[3]) == 4
    # timestamps: idx * 1000 / fps
    f = {r["frame_idx"]: r for r in got[1]}
    assert f[30]["ts_ms"] == 3000
    # each frame payload decodes through the image stub
    w, h, fmt = multimodal._decode_one(bytes(f[10]["frame"]))
    assert (w, h, fmt) == (1, 10, "fake")


def test_audio_features_windows(spark):
    """Windowed audio features: window count, partial last window,
    exact integer features against a python recompute."""
    media = spark.createDataFrame(
        [(7, 300, 16)], "media_id long, n int, rate int").select(
        "media_id",
        multimodal.fake_audio_binary(F.col("n"), F.col("rate"))
        .alias("payload"))
    rows = {r["window_idx"]: r for r in
            multimodal.audio_features(media, window=256).collect()}
    assert set(rows) == {0, 1}
    assert rows[0]["n_samples"] == 256 and rows[1]["n_samples"] == 44
    samples = [((7 * 31 + i) % 256) - 128 for i in range(300)]
    assert rows[0]["sum_abs"] == sum(abs(x) for x in samples[:256])
    assert rows[1]["max_abs"] == max(abs(x) for x in samples[256:])
    assert rows[1]["ts_ms"] == 256 * 1000 // 16


def test_token_drift_exact_ranking(spark):
    """Integer cross-product drift: planted over-representation ranks
    first; a token present only in one side scores sign-correctly."""
    rows = [(1, "x x x y", "a"), (2, "x y z", "a"),
            (3, "y y z w", "b"), (4, "y z w", "b")]
    df = spark.createDataFrame(rows, "doc_id long, text string, side string")
    out = text.token_drift(df, "side", k=10).collect()
    # totals: ta=7, tb=7 -> drift = 7*(count_a - count_b)
    by_tok = {r["token"]: r for r in out}
    assert by_tok["x"]["drift"] == 7 * (4 - 0)
    assert by_tok["w"]["drift"] == 7 * (0 - 2)
    assert out[0]["token"] == "x"  # largest |drift| first


def test_repeated_spans_matches_bruteforce(spark):
    """Property: on random small corpora (tiny vocab -> plenty of
    collisions-by-content), repeated_spans equals a brute-force python
    reference that marks every non-first n-window occurrence and
    merges intervals."""
    import random

    rnd = random.Random(17)
    n = 4
    for trial in range(6):
        docs = []
        for d in range(8):
            toks = [f"w{rnd.randrange(6)}" for _ in range(rnd.randrange(0, 20))]
            docs.append((d, " ".join(toks)))

        # brute force
        seen = set()
        expect = {}
        for d, text in docs:
            toks = text.split(" ") if text else [""]
            dup_pos = []
            for p in range(len(toks) - n + 1):
                key = tuple(toks[p:p + n])
                if key in seen:
                    dup_pos.append(p)
                else:
                    seen.add(key)
            if not dup_pos:
                continue
            spans = []
            for p in dup_pos:
                if spans and p <= spans[-1][1] + 1:
                    spans[-1][1] = max(spans[-1][1], p + n - 1)
                else:
                    spans.append([p, p + n - 1])
            dup_tokens = sum(e - s + 1 for s, e in spans)
            expect[d] = (len(spans), dup_tokens, len(toks))

        df = spark.createDataFrame(docs, "doc_id long, text string")
        got = {r["doc_id"]: (r["n_spans"], r["dup_tokens"],
                             r["total_tokens"])
               for r in dedup.repeated_spans(df, n=n).collect()}
        assert got == expect, f"trial {trial}: {got} != {expect}"


def test_sketch_distinct_rollup(spark):
    """Per-stratum exact counts are right, the __ALL__ row is the
    corpus rollup, and the embedded HLL self-check certifies both the
    per-stratum estimates and the sketch-union rollup (merge-only —
    the whole point of a mergeable summary). An absurd tolerance must
    raise."""
    rows = [(1, "a b c a", "s1"), (2, "c d", "s1"), (3, "x y z", "s2")]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    got = {r["source"]: (r["n_tokens"], r["distinct_tokens"])
           for r in text.sketch_distinct_rollup(df).collect()}
    assert got["s1"] == (6, 4)        # a b c d
    assert got["s2"] == (3, 3)
    assert got["__ALL__"] == (9, 7)   # a b c d x y z
    # the self-check path actually fires: DataSketches HLL is EXACT in
    # sparse mode (small sets), so 0% passes — an impossible negative
    # tolerance proves the guard raises
    with pytest.raises(AssertionError):
        text.sketch_distinct_rollup(df, max_rel_err_pct=-1.0)


def test_canonical_selection_prefers_quality_over_id(spark):
    """Within a near-dup component the HIGHEST-z member survives even
    when it has the highest doc_id (min-id dedup would keep doc 1);
    singletons keep themselves; ties break to the lowest id."""
    base = "the quick brown fox jumps over the lazy dog near the river"
    rows = [
        (1, base + " aa"),
        (2, base + " bb"),
        (3, base + " of the and to in is a of the and to in is"),  # stopword-rich -> higher z
        (9, "a completely unrelated singleton document right here"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    from deltalake_poc_spark.pipeline.text import quality_classifier

    q = quality_classifier(docs).select("doc_id", "z")
    zmap = {r["doc_id"]: r["z"] for r in q.collect()}
    assert zmap[3] > max(zmap[1], zmap[2]), "planted quality inversion failed"
    out = {r["doc_id"]: r for r in dedup.canonical_selection(
        docs, dedup.ngram_jaccard_pairs(docs, threshold=0.15), q).collect()}
    assert {d for d, r in out.items() if r["is_kept"]} == {3, 9}
    assert all(out[d]["keep_doc_id"] == 3 for d in (1, 2, 3))
    assert out[1]["n_members"] == 3 and out[9]["n_members"] == 1
    # tie on z -> lowest doc_id: two byte-identical docs
    dup = spark.createDataFrame(
        [(5, base), (6, base)], "doc_id long, text string")
    q2 = quality_classifier(dup).select("doc_id", "z")
    out2 = {r["doc_id"]: r for r in dedup.canonical_selection(
        dup, dedup.ngram_jaccard_pairs(dup, threshold=0.15), q2).collect()}
    assert out2[5]["is_kept"] and not out2[6]["is_kept"]


def test_canonical_selection_keeps_quality_less_docs(spark):
    """One row per document even when the quality frame is missing
    some (or all) members: unscored docs rank below any scored member
    of their group; an all-unscored group falls back to min(doc_id).
    (Regression: the earlier inner join silently dropped them.)"""
    base = "the quick brown fox jumps over the lazy dog near the river"
    rows = [
        (1, base + " aa"),
        (2, base + " bb"),
        (3, base + " cc"),
        (9, "a completely unrelated singleton document right here"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    from deltalake_poc_spark.pipeline.text import quality_classifier

    pairs = dedup.ngram_jaccard_pairs(docs, threshold=0.15)
    # quality covers only doc 2 of the {1,2,3} group and nothing else
    q = (quality_classifier(docs).select("doc_id", "z")
         .filter(F.col("doc_id") == 2))
    out = {r["doc_id"]: r for r in
           dedup.canonical_selection(docs, pairs, q).collect()}
    assert set(out) == {1, 2, 3, 9}, "every document keeps its row"
    assert all(out[d]["keep_doc_id"] == 2 for d in (1, 2, 3)), \
        "the only scored member wins its group"
    # singleton with no quality row keeps itself
    assert out[9]["is_kept"] and out[9]["keep_doc_id"] == 9
    # empty quality frame: min(doc_id) fallback everywhere
    out2 = {r["doc_id"]: r for r in dedup.canonical_selection(
        docs, pairs, q.filter(F.lit(False))).collect()}
    assert set(out2) == {1, 2, 3, 9}
    assert all(out2[d]["keep_doc_id"] == 1 for d in (1, 2, 3))


def test_native_uncompressed_codecs(spark):
    """Real (not FAKE*) uncompressed formats decode natively through
    the same Arrow pipelines: BMP + binary-PPM image metadata, PCM WAV
    samples (stdlib wave), and YUV4MPEG2 frame demux. Compressed
    formats still raise NotImplementedError."""
    import io
    import struct
    import wave as wavemod

    import pytest as _pytest

    # --- BMP (BITMAPINFOHEADER) + PPM with a comment
    bmp = (b"BM" + struct.pack("<IHHI", 122, 0, 0, 122)
           + struct.pack("<iiHH", 40, 0, 0, 0)[:4]
           + struct.pack("<ii", 17, -9)          # width 17, top-down 9
           + b"\x00" * 64)
    ppm = b"P6\n# a comment\n  23 7\n255\n" + b"\x00" * (23 * 7 * 3)
    media = spark.createDataFrame(
        [(1, "image", bytearray(bmp)), (2, "image", bytearray(ppm))],
        multimodal.MEDIA_SCHEMA)
    got = {r["media_id"]: r for r in
           multimodal.decode_media(media).collect()}
    assert (got[1]["width"], got[1]["height"], got[1]["format"]) == \
        (17, 9, "bmp")
    assert (got[2]["width"], got[2]["height"], got[2]["format"]) == \
        (23, 7, "ppm")

    # --- 16-bit stereo WAV: channel 0 drives the integer features
    buf = io.BytesIO()
    with wavemod.open(buf, "wb") as w:
        w.setnchannels(2)
        w.setsampwidth(2)
        w.setframerate(8000)
        frames = b"".join(struct.pack("<hh", v, -1000)
                          for v in (100, -200, 300, -50))
        w.writeframes(frames)
    wav = buf.getvalue()
    am = spark.createDataFrame([(7, "audio", bytearray(wav))],
                               multimodal.MEDIA_SCHEMA)
    feats = multimodal.audio_features(am, window=256).collect()
    assert len(feats) == 1
    r = feats[0]
    assert r["n_samples"] == 4
    assert r["sum_abs"] == 100 + 200 + 300 + 50
    assert r["max_abs"] == 300

    # --- y4m: 4x2 4:2:0, 3 frames at 10 fps -> frame size 12 bytes
    fsize = 4 * 2 * 3 // 2
    y4m = b"YUV4MPEG2 W4 H2 F10:1 Ip A1:1 C420\n" + b"".join(
        b"FRAME\n" + bytes([i]) * fsize for i in range(3))
    vm = spark.createDataFrame([(9, "video", bytearray(y4m))],
                               multimodal.MEDIA_SCHEMA)
    frames = sorted((r["frame_idx"], r["ts_ms"], bytes(r["frame"]))
                    for r in multimodal.sample_frames(
                        vm, every_nth=2, max_frames=8).collect())
    assert frames == [(0, 0, bytes([0]) * fsize),
                      (2, 200, bytes([2]) * fsize)]

    # --- JPEG now decodes natively (pipeline/codecs); a TRUNCATED
    # JPEG must still fail loudly, not emit mangled metadata
    jpeg = spark.createDataFrame(
        [(3, "image", bytearray(b"\xff\xd8\xff\xe0JFIF" + b"\x00" * 20))],
        multimodal.MEDIA_SCHEMA)
    with _pytest.raises(Exception, match="no SOF marker"):
        multimodal.decode_media(jpeg).collect()

    # --- genuinely unsupported compressed formats refuse honestly
    webp = spark.createDataFrame(
        [(4, "image", bytearray(b"RIFF\x00\x00\x00\x00WEBPVP8 "))],
        multimodal.MEDIA_SCHEMA)
    with _pytest.raises(Exception, match="NotImplementedError|unrecognized"):
        multimodal.decode_media(webp).collect()


def test_length_quantiles_exact_ranks(spark):
    """Discrete-quantile rank formula (p*(n-1)) DIV 100 + 1 against a
    hand-computed distribution, per-stratum and __ALL__; the embedded
    percentile_approx self-check certifies the mergeable GK path on
    the same call. An absurd accuracy must raise."""
    # s1 lengths ascending: 1,2,3,4,5 (5 docs) -> p50 = rank
    # (50*4)//100+1 = 3 -> value 3; p99 = rank (99*4)//100+1 = 4 -> 4
    rows = [(i, " ".join(["t"] * i), "s1") for i in range(1, 6)]
    # s2: single doc of 7 tokens -> every quantile = 7
    rows.append((10, " ".join(["u"] * 7), "s2"))
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    got = {r["source"]: r.asDict()
           for r in text.length_quantiles(df).collect()}
    assert got["s1"]["n_docs"] == 5
    assert (got["s1"]["p25"], got["s1"]["p50"],
            got["s1"]["p90"], got["s1"]["p99"]) == (2, 3, 4, 4)
    assert got["s2"]["n_docs"] == 1
    assert got["s2"]["p50"] == 7
    # __ALL__ ascending: 1,2,3,4,5,7 (6 docs) -> p50 rank 3 -> 3
    assert got["__ALL__"]["n_docs"] == 6
    assert got["__ALL__"]["p50"] == 3
    assert got["__ALL__"]["p99"] == 5   # rank (99*5)//100+1 = 5 -> value 5
    # the GK self-check ran above at accuracy=200 (eps_rank 1 on this
    # tiny n — the tightest possible window); accuracy=1 must also
    # pass (tolerance widens with eps, never narrows)
    text.length_quantiles(df, accuracy=1)


def test_length_quantiles_all_row_is_rollup(spark):
    """__ALL__ p99: ascending corpus lengths 1..5,7; rank
    (99*(6-1))//100 + 1 = 5 -> value 5 (not 7: discrete lower
    quantile)."""
    rows = [(i, " ".join(["t"] * i), "s1") for i in range(1, 6)]
    rows.append((10, " ".join(["u"] * 7), "s2"))
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    all_row = {r["source"]: r.asDict()
               for r in text.length_quantiles(df).collect()}["__ALL__"]
    assert all_row["p99"] == 5


def test_heavy_hitters_exact_and_rollup(spark):
    """Per-stratum top-k by (freq desc, token asc), corpus row
    aggregates across strata, CMS self-check passes on real data."""
    rows = [(1, "a a a b b c", "s1"), (2, "b b b b z", "s1"),
            (3, "a a c c c c", "s2")]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    got = text.heavy_hitters(df, k=2).collect()
    by = {(r["source"], r["rank"]): (r["token"], r["freq"]) for r in got}
    assert by[("s1", 1)] == ("b", 6)
    assert by[("s1", 2)] == ("a", 3)
    assert by[("s2", 1)] == ("c", 4)
    assert by[("s2", 2)] == ("a", 2)
    # corpus rollup: b=6, a=5, c=5, z=1 -> top2 = b, then a (tie a/c
    # broken by token asc)
    assert by[("__ALL__", 1)] == ("b", 6)
    assert by[("__ALL__", 2)] == ("a", 5)


def test_heavy_hitters_cms_bounds_hold_under_collisions(spark):
    """The embedded self-check asserts the CMS contract
    (exact <= est <= exact + ceil(eps*N)) for every reported token.
    Pin it at both extremes: eps=0.9 gives a width-4 sketch where
    every token collides — estimates inflate but must stay inside
    the documented slack; eps=1e-4 gives a wide sketch where
    estimates are exact and the slack is 1. Either regime raising
    would mean the cross-language byte path (UTF8String agg-side vs
    java.lang.String estimate-side) diverged."""
    rows = [(i, " ".join(f"tok{j}" for j in range(30)), "s1")
            for i in range(4)]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    text.heavy_hitters(df, k=3, eps=0.9)
    text.heavy_hitters(df, k=3, eps=0.0001)


def test_heavy_hitters_empty_corpus_returns_empty(spark):
    """Zero tokens -> zero sketch rows: the CMS self-check must skip
    (sketches[0] would IndexError), returning an empty result with
    the contract schema (ADVICE r6)."""
    rows = [(1, "   ", "s1"), (2, "", "s2"), (3, None, "s1")]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    got = text.heavy_hitters(df, k=3)
    assert got.collect() == []
    assert got.columns == ["source", "token", "freq", "rank"]


def test_ivf_topk_exact_equals_bruteforce(spark):
    """The triangle-inequality probe must return the brute-force top-k
    for ANY clustering — clustered data (where it prunes) and iid data
    (where the bound honestly degrades toward a full scan)."""
    rs = np.random.RandomState(3)
    # clustered: 4 tight blobs on the sphere
    blobs = rs.normal(size=(4, 16)) * 4
    vecs = np.vstack([blobs[i % 4] + rs.normal(scale=0.2, size=16)
                      for i in range(240)])
    rows = [(i, [float(x) for x in vecs[i]], 0) for i in range(240)]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int")
    q = [float(x) for x in vecs[0]]
    exact = [(r["vec_id"], r["cosine"]) for r in
             similarity.cosine_topk(emb, q, k=7, exclude_vec_id=0).collect()]
    assigned, centers = similarity.ivf_build(emb, n_clusters=8,
                                             normalize=True)
    got = [(r["vec_id"], r["cosine"]) for r in
           similarity.ivf_topk_exact(assigned, centers, q, k=7,
                                     n_probe_init=2,
                                     exclude_vec_id=0).collect()]
    assert got == exact
    # on blob data the bound must actually prune (the query's blob
    # covers the top-k, far blobs are provably out of reach)
    info = dict(similarity.LAST_IVF_EXACT_INFO)
    assert info["probed"] < info["n_clusters"], info

    # iid: no structure — exactness must hold even when nothing prunes
    vecs = rs.normal(size=(150, 16))
    rows = [(i, [float(x) for x in vecs[i]], 0) for i in range(150)]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int")
    q = [float(x) for x in vecs[17]]
    exact = [(r["vec_id"], r["cosine"]) for r in
             similarity.cosine_topk(emb, q, k=5, exclude_vec_id=17).collect()]
    for parts in (2, 7):
        assigned, centers = similarity.ivf_build(
            emb.repartition(parts), n_clusters=6, normalize=True)
        got = [(r["vec_id"], r["cosine"]) for r in
               similarity.ivf_topk_exact(assigned, centers, q, k=5,
                                         n_probe_init=1,
                                         exclude_vec_id=17).collect()]
        assert got == exact, f"parts={parts}"


def test_ivf_topk_exact_fewer_than_k_in_init_probe(spark):
    """When phase 1 cannot fill k rows the bound is +inf and every
    cluster is probed — still exact."""
    rs = np.random.RandomState(5)
    vecs = rs.normal(size=(12, 8))
    rows = [(i, [float(x) for x in vecs[i]], 0) for i in range(12)]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int")
    q = [float(x) for x in vecs[0]]
    assigned, centers = similarity.ivf_build(emb, n_clusters=6,
                                             normalize=True)
    exact = [(r["vec_id"], r["cosine"]) for r in
             similarity.cosine_topk(emb, q, k=10, exclude_vec_id=0).collect()]
    got = [(r["vec_id"], r["cosine"]) for r in
           similarity.ivf_topk_exact(assigned, centers, q, k=10,
                                     n_probe_init=1,
                                     exclude_vec_id=0).collect()]
    assert got == exact


def test_all_ngrams_zipwith_equals_reference(spark):
    """all_ngrams_col's zip_with-over-shifted-slices build (r11: the
    per-gram slice allocation was ~80% of repetition_signals' tier
    wall) must be element-identical to the literal windowed-slice
    reference on randomized corpora and the short-doc/null edges."""
    import random

    from pyspark.sql import functions as F

    rng = random.Random(0x9A11)
    rows = [(i, " ".join(rng.choice("abcdexyz")
                         for _ in range(rng.randint(0, 30))))
            for i in range(300)]
    rows += [(1000, ""), (1001, "a"), (1002, "a b"), (1003, "a b c"),
             (1004, "  x  y  "), (1005, None)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    base = docs.select("doc_id", text.tokens_col().alias("__toks"))
    t = F.col("__toks")
    for n in (2, 3, 4):
        ref = F.when(
            F.size(t) >= n,
            F.transform(F.sequence(F.lit(0), F.size(t) - n),
                        lambda i: F.concat_ws(
                            " ", F.slice(t, i.cast("int") + 1, n))),
        ).otherwise(F.array().cast("array<string>"))
        bad = base.select(
            F.coalesce(text.all_ngrams_col("__toks", n),
                       F.array()).alias("a"),
            F.coalesce(ref, F.array()).alias("b"),
        ).filter(F.col("a") != F.col("b")).count()
        assert bad == 0, f"n={n}: {bad} mismatching docs"
