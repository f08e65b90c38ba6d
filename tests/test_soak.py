"""Soak: 25 micro-batches through the stream runner with tight
auto-compaction and log checkpointing — the long-running-operation
integration the reference never tested (continuous merge + compaction
+ checkpoint replay staying consistent)."""

from __future__ import annotations

import json
import os

from deltalake_poc_spark.cdc import CDCApplier
from deltalake_poc_spark.streaming import CDCStreamRunner
from deltalake_poc_spark.tables import VersionedTable
from deltalake_poc_spark.tables.log import TableLog

CUST = {"id": 0, "first_name": "F", "last_name": "L", "email": "x",
        "phone": None, "address": "a", "created_at": 1700000000_000000,
        "updated_at": 1700000000_000000}


def _msg(op, id_, lsn, email):
    payload = {"op": op, "ts_ms": 1700000000000 + lsn,
               "source": {"version": "1", "connector": "p", "name": "cdc",
                          "ts_ms": 1700000000000 + lsn, "snapshot": "false",
                          "db": "d", "schema": "public", "table": "customers",
                          "txId": lsn, "lsn": lsn}}
    if op == "d":
        payload["before"] = {**CUST, "id": id_}
    else:
        payload["after"] = {**CUST, "id": id_, "email": email}
    return {"key": json.dumps({"payload": {"id": id_}}),
            "value": json.dumps({"payload": payload}),
            "topic": "cdc.public.customers", "partition": 0, "offset": lsn}


def test_soak_25_batches(spark, tmp_path, monkeypatch):
    monkeypatch.setattr(TableLog, "CHECKPOINT_EVERY", 10)
    input_dir = str(tmp_path / "in")
    os.makedirs(input_dir)
    applier = CDCApplier(spark, str(tmp_path / "lake"), enable_cdf=False,
                         auto_compact_every=5)
    runner = CDCStreamRunner(spark, applier, str(tmp_path / "ckpt"))

    model: dict[int, str] = {}
    lsn = 0
    n_batches = 25
    for b in range(n_batches):
        msgs = []
        for i in range(4):
            key = (b * 3 + i) % 10
            lsn += 1
            if (b + i) % 6 == 5:
                msgs.append(_msg("d", key, lsn, ""))
                model.pop(key, None)
            else:
                email = f"b{b}i{i}@x"
                msgs.append(_msg("u", key, lsn, email))
                model[key] = email
        with open(os.path.join(input_dir, f"b{b:03d}.json"), "w") as fh:
            fh.writelines(json.dumps(m) + "\n" for m in msgs)
        # one file per availableNow run = one micro-batch
        q = runner.start(runner.file_source(input_dir,
                                            max_files_per_trigger=100),
                         available_now=True)
        q.awaitTermination(120)
        runner.stop_all()

    t = applier.snapshot_table("customers")
    got = {r["id"]: r["email"] for r in t.read().collect()}
    assert got == model
    # compaction kept the file count bounded despite 25 merges
    assert len(t.snapshot().files) <= 6
    # audit holds every event exactly once
    assert applier.audit_table().read().count() == lsn
    # log checkpoints exist and a cold open replays correctly
    ckpts = [f for f in os.listdir(t.log.log_path)
             if f.endswith(".checkpoint.json")]
    assert ckpts
    t2 = VersionedTable.for_path(spark, t.log.root)
    assert {r["id"]: r["email"] for r in t2.read().collect()} == model


def test_soak_merge_dv_constraint_writers(spark, tmp_path):
    """The three newest writer kinds hammering ONE table concurrently:
    a MERGE upserter, a deletion-vector deleter, and a constrained
    appender (CHECK val >= 0), all through independent handles under
    real thread interleaving. Each round the merger and the DV deleter
    start from a barrier so their snapshot->publish windows overlap;
    whichever loses the version race must either rebase cleanly or
    conflict and retry — never publish a lost update. Asserts the
    exact final row set (the workload is order-independent by
    construction), that at least one real conflict was hit and
    retried, and that the constraint still rejects bad rows at the
    end of the churn."""
    import threading
    from concurrent.futures import ThreadPoolExecutor

    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType, StructField, StructType

    from deltalake_poc_spark.tables.log import CommitConflictError

    schema = StructType([StructField("id", LongType()),
                         StructField("val", LongType())])
    root = str(tmp_path / "churn")
    t = VersionedTable.create(
        spark, root, schema,
        properties={"enableDeletionVectors": "true",
                    "enableChangeDataFeed": "true"})
    t.write(spark.createDataFrame([(i, i) for i in range(100)], schema),
            "append")
    t.add_constraint("val_nonneg", "val >= 0")

    rounds = 8
    barrier = threading.Barrier(2, timeout=120)
    conflicts = {"merge": 0, "dv": 0}

    def with_retry(kind, fn):
        for _ in range(6):
            try:
                return fn()
            except CommitConflictError:
                conflicts[kind] += 1
        raise AssertionError(f"{kind} writer exhausted retries")

    def merger():
        h = VersionedTable(spark, root)
        for r in range(rounds):
            barrier.wait()
            src = spark.createDataFrame(
                [(i, r) for i in range(10, 20)], schema)
            with_retry("merge", lambda: (
                h.merge(src, on="id")
                .when_matched_update_all()
                .when_not_matched_insert_all()
                .execute()))
        return "merge-done"

    def dv_deleter():
        h = VersionedTable(spark, root)
        for r in range(rounds):
            barrier.wait()
            with_retry("dv", lambda r=r: h.delete(f"id = {50 + r}"))
        return "dv-done"

    def appender():
        h = VersionedTable(spark, root)
        for r in range(rounds):
            h.write(spark.createDataFrame([(2000 + r, r)], schema),
                    "append")
        return "append-done"

    with ThreadPoolExecutor(max_workers=3) as ex:
        futures = [ex.submit(merger), ex.submit(dv_deleter),
                   ex.submit(appender)]
        assert sorted(f.result(timeout=600) for f in futures) == [
            "append-done", "dv-done", "merge-done"]

    # exact final state, independent of interleaving: base 0..99 minus
    # the DV-deleted 50..57, ids 10..19 at the last round's value,
    # plus the 8 appended rows
    got = {(r["id"], r["val"]) for r in t.read().collect()}
    want = {(i, i) for i in range(100)
            if i not in range(50, 50 + rounds) and i not in range(10, 20)}
    want |= {(i, rounds - 1) for i in range(10, 20)}
    want |= {(2000 + r, r) for r in range(rounds)}
    assert got == want
    # overlapping windows must have produced at least one real conflict
    # (merge rewrites the files the DV deletes address, so the loser's
    # read set is stale); every conflicted op retried to success above
    assert conflicts["merge"] + conflicts["dv"] >= 1, conflicts
    # constraint survived the churn: a violating append still fails
    # (enforcement is in-job via raise_error -> Spark wraps the error)
    import pytest as _pytest

    with _pytest.raises(Exception, match="val_nonneg|CHECK|violat"):
        t.write(spark.createDataFrame([(9999, -1)], schema), "append")
    # and the violating write left no partial state behind
    assert (9999, -1) not in {
        (r["id"], r["val"]) for r in t.read().collect()}
    # CDF stayed coherent: exactly one delete row per DV delete
    dels = (t.read_change_feed(0)
            .filter(F.col("_change_type") == "delete").collect())
    assert sorted(r["id"] for r in dels) == list(range(50, 50 + rounds))


def test_soak_streaming_pq_ingest_with_concurrent_queries(spark, tmp_path):
    """ANN index maintenance under streaming ingest: embeddings arrive
    in micro-batches, each PQ-encoded and OCC-appended to the codes
    table with periodic OPTIMIZE; batch ANN queries pin a version and
    must return IDENTICAL results before and after later ingest
    commits (reader isolation), the final version must equal the
    one-shot encode of the same corpus, and checkpoint replay must not
    double-append (batchId commit markers)."""
    import numpy as np
    from pyspark.sql import functions as F

    from deltalake_poc_spark.pipeline.similarity import (
        pq_adc_topk_batch, pq_encode, streaming_pq_ingest)

    rs = np.random.RandomState(5)
    m, k_codes, dim = 4, 8, 16
    books = [[[float(x) for x in rs.normal(size=dim // m)]
              for _ in range(k_codes)] for _ in range(m)]

    src = tmp_path / "vec_in"
    os.makedirs(src)
    all_rows = []
    for b in range(5):
        rows = [{"vec_id": b * 100 + i,
                 "embedding": [float(x) for x in rs.normal(size=dim)]}
                for i in range(30)]
        all_rows += rows
        (src / f"b{b}.json").write_text(
            "\n".join(json.dumps(r) for r in rows))

    stream = (spark.readStream
              .schema("vec_id long, embedding array<float>")
              .option("maxFilesPerTrigger", "1").json(str(src)))
    q = streaming_pq_ingest(stream, str(tmp_path / "codes"),
                            str(tmp_path / "ckpt"), books,
                            optimize_every=3, available_now=True)
    q.awaitTermination(180)

    store = VersionedTable.for_path(spark, str(tmp_path / "codes"))
    versions = [c.version for c in store.log.commits()]
    assert len([c for c in store.log.commits()
                if c.operation_parameters.get("batchId")]) == 5

    emb_all = spark.createDataFrame(
        [(r["vec_id"], r["embedding"]) for r in all_rows],
        "vec_id long, embedding array<float>")
    queries = emb_all.filter(F.col("vec_id").isin(0, 101, 203))

    # reader isolation: results at a pinned mid-ingest version are
    # stable across re-execution after later commits exist
    mid = versions[len(versions) // 2]
    def ann_at(version):
        return sorted(
            (r["qid"], r["vec_id"], r["cosine"]) for r in pq_adc_topk_batch(
                store.read(version=version), books, queries, k=5,
                shortlist=20).collect())
    first = ann_at(mid)
    assert ann_at(mid) == first
    # ingested rows at a version = union of batches committed <= it
    n_mid = store.read(version=mid).count()
    assert 0 < n_mid <= len(all_rows)

    # final version == one-shot encode of the same corpus
    final_rows = sorted(
        (r["vec_id"], r["pq_code"]) for r in
        store.read().select("vec_id", "pq_code").collect())
    oneshot = sorted(
        (r["vec_id"], r["pq_code"]) for r in
        pq_encode(emb_all, books).select("vec_id", "pq_code").collect())
    assert final_rows == oneshot
    # and batch ANN over the store == batch ANN over the one-shot frame
    got = sorted((r["qid"], r["vec_id"], r["cosine"]) for r in
                 pq_adc_topk_batch(store.read(), books, queries,
                                   k=5, shortlist=20).collect())
    want = sorted((r["qid"], r["vec_id"], r["cosine"]) for r in
                  pq_adc_topk_batch(pq_encode(emb_all, books), books,
                                    queries, k=5, shortlist=20).collect())
    assert got == want

    # replay: a fresh stream over the same files + checkpoint appends
    # nothing (all batch ids already stamped)
    n_commits = len(store.log.commits())
    q2 = streaming_pq_ingest(stream, str(tmp_path / "codes"),
                             str(tmp_path / "ckpt"), books,
                             available_now=True)
    q2.awaitTermination(120)
    assert store.read().count() == len(all_rows)
    assert len([c for c in store.log.commits()
                if c.operation_parameters.get("batchId")]) == 5, \
        "replayed batches double-appended"


def test_soak_giant_component_all_cc_regimes(spark):
    """Giant-component skew soak: boilerplate contamination makes ONE
    near-dup component swallow a large slice of the corpus (hot grams
    link everything transitively). Build that shape synthetically at
    2^20 nodes — 1024 within-bucket stars whose hubs all link to node
    0, the per-bucket-representative topology hot-gram pair sets
    collapse to — entirely via spark.range (no driver-side edge
    list), and push it through BOTH CC regimes. Asserts: each regime
    completes (no OOM, no unconverged error), the two assignments are
    identical (every node -> 0), and the distributed regime converges
    in the handful of rounds the shallow topology promises."""
    import time

    from pyspark.sql import functions as F

    from deltalake_poc_spark.pipeline import dedup

    n = 1 << 20
    ids = spark.range(0, n, 1, 8)
    member_edges = (ids.filter((F.col("id") % 1024) != 0)
                    .select((F.col("id") - (F.col("id") % 1024))
                            .alias("doc_a"),
                            F.col("id").alias("doc_b")))
    hub_edges = (ids.filter((F.col("id") % 1024 == 0) & (F.col("id") > 0))
                 .select(F.lit(0).cast("long").alias("doc_a"),
                         F.col("id").alias("doc_b")))
    pairs = member_edges.unionByName(hub_edges)

    def checksum(labels):
        row = labels.agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct("group_id").alias("groups"),
            F.bit_xor(F.xxhash64("doc_id", "group_id")).alias("h"),
            F.max("group_id").alias("maxg")).collect()[0]
        return (row["n"], row["groups"], row["h"], row["maxg"])

    results = {}
    for regime, kw in [
        ("union-find", dict(driver_threshold=n)),       # 2^20 edges fit
        ("star", dict(driver_threshold=0)),
    ]:
        t0 = time.monotonic()
        results[regime] = checksum(dedup.connected_components(pairs, **kw))
        wall = time.monotonic() - t0
        assert wall < 600, f"{regime} took {wall:.0f}s — regression"
        if regime != "union-find":
            assert dedup.LAST_CC_INFO["rounds"] <= 6, dedup.LAST_CC_INFO
    assert results["union-find"] == results["star"]
    n_nodes, n_groups, _, maxg = results["star"]
    assert n_nodes == n and n_groups == 1 and maxg == 0
