"""VersionedTable: create/read/write, time travel, CDF, MERGE, DELETE,
UPDATE, OPTIMIZE, VACUUM, RESTORE, history, schema evolution.

Covers SURVEY.md §2.1 (S5-S11) and §2.10 (M1-M11) — the capability
surface the reference gets from Delta Lake.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import (
    LongType, StringType, StructField, StructType, TimestampType,
)

from deltalake_poc_spark.tables import VersionedTable
from deltalake_poc_spark.tables.log import ConcurrentWriteError

SCHEMA = StructType([
    StructField("id", LongType()),
    StructField("name", StringType()),
    StructField("email", StringType()),
])


def make_df(spark, rows):
    return spark.createDataFrame(rows, SCHEMA)


@pytest.fixture()
def table(spark, tmp_path):
    return VersionedTable.create(
        spark, str(tmp_path / "t"), SCHEMA,
        properties={"enableChangeDataFeed": "true"},
    )


def rows_of(df):
    return sorted((r["id"], r["name"], r["email"]) for r in df.collect())


def test_create_exists_drop(spark, tmp_path, table):
    assert VersionedTable.is_table(table.log.root)
    assert not VersionedTable.is_table(str(tmp_path / "nope"))
    with pytest.raises(FileExistsError):
        VersionedTable.create(spark, table.log.root, SCHEMA)
    VersionedTable.create(spark, table.log.root, SCHEMA, if_not_exists=True)
    t2 = VersionedTable.for_path(spark, table.log.root)
    assert t2.version() == 0
    t2.drop()
    assert not VersionedTable.is_table(table.log.root)


def test_append_read_empty_schema(spark, table):
    assert table.read().count() == 0  # empty table reads via declared schema
    table.write(make_df(spark, [(1, "a", "a@x"), (2, "b", "b@x")]))
    table.write(make_df(spark, [(3, "c", "c@x")]))
    assert rows_of(table.read()) == [(1, "a", "a@x"), (2, "b", "b@x"), (3, "c", "c@x")]


def test_append_batch_replay_is_noop(spark, table):
    df = make_df(spark, [(1, "a", "a@x"), (2, "b", "b@x")])
    first = table.append_batch(df, batch_id="b1")
    assert first.operation_parameters["batchId"] == "b1"
    assert table.append_batch(df, batch_id="b1") is None
    # the log, not the object, is the record: a fresh handle sees it
    again = VersionedTable.for_path(spark, table.log.root)
    assert again.append_batch(df, batch_id="b1") is None
    assert [c.version for c in table.log.commits()] == [0, first.version]
    assert table.applied_batch_ids() == {"b1"}
    assert table.read().count() == 2


def test_append_batch_sizes_files_write_keeps_partitioning(spark, table):
    df = make_df(spark, [(i, f"n{i}", f"e{i}") for i in range(64)])
    assert len(table.write(df.repartition(8)).add) == 8
    # a few KB against the 64 MB advisory size: one file
    assert len(table.append_batch(df.repartition(8)).add) == 1


def test_append_batch_sizes_unsized_frame_inside_foreach_batch(spark,
                                                                tmp_path):
    """foreachBatch runs in the stream's clone of the session: the
    write's AQE sizing scope must reach it, or the rebalance fallback
    for a frame with no size estimate splits ~13 MB over every core."""
    import os

    src = spark.range(200_000).selectExpr(
        "id", "sha2(cast(id AS string), 256) AS s")  # incompressible
    t = VersionedTable.create(spark, str(tmp_path / "t"), src.schema)
    os.makedirs(tmp_path / "in")
    (tmp_path / "in" / "a.json").write_text('{"a": 1}\n')
    added = []

    def process(batch_df, batch_id):
        bs = batch_df.sparkSession
        rdd_backed = bs.createDataFrame(src.rdd, src.schema)
        added.append(t.append_batch(rdd_backed, batch_id).add)

    q = (spark.readStream.schema("a long").json(str(tmp_path / "in"))
         .writeStream.foreachBatch(process).trigger(availableNow=True)
         .option("checkpointLocation", str(tmp_path / "ckpt")).start())
    q.awaitTermination(120)
    assert [len(a) for a in added] == [1]
    assert t.read().count() == 200_000


def test_overwrite_and_time_travel(spark, table):
    table.write(make_df(spark, [(1, "a", "a@x")]))            # v1
    table.write(make_df(spark, [(2, "b", "b@x")]), "overwrite")  # v2
    assert rows_of(table.read()) == [(2, "b", "b@x")]
    assert rows_of(table.read(version=1)) == [(1, "a", "a@x")]
    ts1 = table.log.read_commit(1).timestamp
    assert rows_of(table.read(timestamp_ms=ts1)) == [(1, "a", "a@x")]
    with pytest.raises(ValueError):
        table.read(timestamp_ms=ts1 - 10_000)


def test_merge_upsert_insert_update_delete(spark, table):
    table.write(make_df(spark, [(1, "a", "a@x"), (2, "b", "b@x"), (3, "c", "c@x")]))
    src = make_df(spark, [(2, "B2", "b2@x"), (4, "d", "d@x")])
    c = (table.merge(src, on="id")
         .when_matched_update_all()
         .when_not_matched_insert_all()
         .execute())
    assert c.metrics["numTargetRowsUpdated"] == 1
    assert c.metrics["numTargetRowsInserted"] == 1
    assert rows_of(table.read()) == [
        (1, "a", "a@x"), (2, "B2", "b2@x"), (3, "c", "c@x"), (4, "d", "d@x")]

    # delete clause driven by a source flag column
    src2 = spark.createDataFrame(
        [(2, True), (4, False)], "id long, __delete boolean")
    c2 = (table.merge(src2, on="id")
          .when_matched_delete(condition=F.col("s.__delete"))
          .execute())
    assert c2.metrics["numTargetRowsDeleted"] == 1
    assert [r[0] for r in rows_of(table.read())] == [1, 3, 4]


def test_merge_duplicate_source_raises(spark, table):
    table.write(make_df(spark, [(1, "a", "a@x")]))
    dup = make_df(spark, [(1, "x", "x@x"), (1, "y", "y@x")])
    with pytest.raises(ValueError, match="duplicate"):
        table.merge(dup, on="id").when_matched_update_all().execute()


def test_merge_conditional_update_skips_unchanged(spark, table):
    """M2 — change-detection condition (spark_delta_handler.py:222-236):
    unchanged rows are copies, not updates."""
    table.write(make_df(spark, [(1, "a", "a@x"), (2, "b", "b@x")]))
    src = make_df(spark, [(1, "a", "a@x"), (2, "B", "b@x")])
    cond = "NOT (t.name <=> s.name AND t.email <=> s.email)"
    c = (table.merge(src, on="id")
         .when_matched_update_all(condition=cond)
         .when_not_matched_insert_all()
         .execute())
    assert c.metrics["numTargetRowsUpdated"] == 1
    assert c.metrics["numTargetRowsCopied"] == 1


@pytest.mark.parametrize("cdf", [True, False], ids=["cdf", "no_cdf"])
def test_merge_row_metrics_all_four_actions(spark, tmp_path, cdf):
    """One merge with an update, an insert, a delete and copy rows must
    report all four numTargetRows* counts, with CDF on and off: every
    count comes from the one observe on the data-file write."""
    t = VersionedTable.create(
        spark, str(tmp_path / "t"), SCHEMA,
        properties={"enableChangeDataFeed": str(cdf).lower()})
    t.write(make_df(spark, [(i, f"n{i}", f"n{i}@x")
                            for i in range(1, 6)]).coalesce(1))
    src = spark.createDataFrame(
        [(1, "n1", "n1@x", False),     # unchanged -> copy
         (2, "N2", "n2@x", False),     # changed -> update
         (3, "n3", "n3@x", True),      # flagged -> delete
         (6, "n6", "n6@x", False)],    # new -> insert
        "id long, name string, email string, __delete boolean")
    c = (t.merge(src, on="id")
         .when_matched_delete(condition=F.col("s.__delete"))
         .when_matched_update_all(
             condition="NOT (t.name <=> s.name AND t.email <=> s.email)")
         .when_not_matched_insert_all()
         .execute())
    assert c.metrics["numTargetFilesRemoved"] == 1
    assert {k: c.metrics[f"numTargetRows{k}"]
            for k in ("Updated", "Inserted", "Deleted", "Copied")} == {
        "Updated": 1, "Inserted": 1, "Deleted": 1, "Copied": 3}
    assert c.metrics["numOutputRows"] == 5
    assert rows_of(t.read()) == [
        (1, "n1", "n1@x"), (2, "N2", "n2@x"), (4, "n4", "n4@x"),
        (5, "n5", "n5@x"), (6, "n6", "n6@x")]


ROW_METRICS = {
    ("DELETE", "cow"): {"numDeletedRows": 1, "numCopiedRows": 4,
                        "numRemovedFiles": 1, "numAddedFiles": 1},
    ("DELETE", "dv"): {"numDeletedRows": 1, "numCopiedRows": 0,
                       "numRemovedFiles": 0, "numAddedFiles": 0,
                       "numDeletionVectorRows": 1},
    ("UPDATE", "cow"): {"numUpdatedRows": 1, "numCopiedRows": 4,
                        "numRemovedFiles": 1, "numAddedFiles": 1},
    ("UPDATE", "dv"): {"numUpdatedRows": 1, "numCopiedRows": 0,
                       "numRemovedFiles": 0, "numAddedFiles": 1,
                       "numDeletionVectorRows": 1},
}


@pytest.mark.parametrize("cdf", [True, False], ids=["cdf", "no_cdf"])
@pytest.mark.parametrize("mode", ["cow", "dv"])
@pytest.mark.parametrize("op", ["DELETE", "UPDATE"])
def test_delete_update_row_metrics(spark, tmp_path, op, mode, cdf):
    """DELETE and UPDATE report Delta's metrics from the same counts as
    MERGE: one touched row, four copies in copy-on-write (none with
    deletion vectors), and the file and vector counts of each mode."""
    t = VersionedTable.create(
        spark, str(tmp_path / "t"), SCHEMA,
        properties={"enableChangeDataFeed": str(cdf).lower(),
                    "enableDeletionVectors": str(mode == "dv").lower()})
    t.write(make_df(spark, [(i, f"n{i}", f"n{i}@x")
                            for i in range(1, 6)]).coalesce(1))
    if op == "DELETE":
        c = t.delete("id = 3")
        want = [(i, f"n{i}", f"n{i}@x") for i in (1, 2, 4, 5)]
    else:
        c = t.update({"name": F.lit("X")}, "id = 3")
        want = [(i, "X" if i == 3 else f"n{i}", f"n{i}@x")
                for i in range(1, 6)]
    assert c.operation == op
    assert c.metrics == ROW_METRICS[op, mode]
    assert rows_of(t.read()) == want
    if cdf:
        got = sorted((r["_change_type"], r["id"], r["name"])
                     for r in t.read_change_feed(c.version).collect())
        assert got == ([("delete", 3, "n3")] if op == "DELETE" else
                       [("update_postimage", 3, "X"),
                        ("update_preimage", 3, "n3")])


@pytest.mark.parametrize("mode", ["cow", "dv"])
def test_update_of_predicate_column_keeps_postimage(spark, tmp_path, mode):
    """An UPDATE that changes the column its predicate reads must still
    emit the post-image: rows are classified once, on the pre-image."""
    t = VersionedTable.create(
        spark, str(tmp_path / "t"), SCHEMA,
        properties={"enableChangeDataFeed": "true",
                    "enableDeletionVectors": str(mode == "dv").lower()})
    t.write(make_df(spark, [(1, "a", "a@x"), (2, "b", "b@x")]))
    c = t.update({"id": "id + 100"}, "id = 2")
    got = sorted((r["_change_type"], r["id"])
                 for r in t.read_change_feed(c.version).collect())
    assert got == [("update_postimage", 102), ("update_preimage", 2)]
    assert sorted(r["id"] for r in t.read().collect()) == [1, 102]


def _row_level_table(spark, tmp_path, dv):
    """CDF table of ids 1..30 in three files (1-10, 11-20, 21-30)."""
    t = VersionedTable.create(
        spark, str(tmp_path / "rl"), SCHEMA,
        properties={"enableChangeDataFeed": "true",
                    "enableDeletionVectors": str(dv).lower()})
    for lo in (1, 11, 21):
        t.write(make_df(spark, [(i, f"n{i}", f"n{i}@x")
                                for i in range(lo, lo + 10)]).coalesce(1))
    return t


def _row_level_op(spark, t, op):
    if op == "delete":
        return t.delete("id = 5")
    if op == "update":
        return t.update({"name": F.lit("X")}, "id = 15")
    src = spark.createDataFrame(
        [(2, "N2", "n2@x", False), (3, "n3", "n3@x", True),
         (40, "n40", "n40@x", False)],
        "id long, name string, email string, __delete boolean")
    return (t.merge(src, on="id")
            .when_matched_delete(condition=F.col("s.__delete"))
            .when_matched_update_all()
            .when_not_matched_insert_all()
            .execute())


# Spark jobs per operation on _row_level_table with CDF on, measured
# before DELETE, UPDATE and MERGE shared one executor. COW MERGE (what
# the CDC applier runs) must stay equal; the others may only drop jobs.
# COW MERGE dropped from 14 when its change rows became one pass over
# the classified rows instead of a union of one leg per change image,
# and from 11 when its data and change files became one write.
BASELINE_JOBS = {("delete", "cow"): 4, ("update", "cow"): 4,
               ("merge", "cow"): 9, ("delete", "dv"): 4,
               ("update", "dv"): 8, ("merge", "dv"): 16}


def _job_ids(spark, group, run) -> list[int]:
    """Run ``run()`` under job group ``group``; its Spark job ids."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        run()
    finally:
        for k in ("spark.jobGroup.id", "spark.job.description"):
            sc.setLocalProperty(k, None)
    return list(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.parametrize("mode", ["cow", "dv"])
@pytest.mark.parametrize("op", ["delete", "update", "merge"])
def test_row_level_job_counts(spark, tmp_path, op, mode):
    t = _row_level_table(spark, tmp_path, mode == "dv")
    jobs = len(_job_ids(spark, f"row-level-{op}-{mode}-{tmp_path.name}",
                        lambda: _row_level_op(spark, t, op)))
    if (op, mode) == ("merge", "cow"):
        assert jobs == BASELINE_JOBS[op, mode]
    else:
        assert jobs <= BASELINE_JOBS[op, mode]


# Spark jobs of the CDC applier's MERGE shape (copy-on-write, CDF on,
# no duplicate-key check) on _row_level_table: 9 while the change
# files were a second write over a persisted join.
CDC_MERGE_JOBS = 7


def test_cdc_merge_shape_job_count(spark, tmp_path):
    t = _row_level_table(spark, tmp_path, False)
    src = spark.createDataFrame(
        [(2, "N2", "n2@x", False), (3, "n3", "n3@x", True),
         (40, "n40", "n40@x", False)],
        "id long, name string, email string, __delete boolean")
    jobs = _job_ids(spark, f"cdc-merge-{tmp_path.name}", lambda: (
        t.merge(src, on="id").without_source_validation()
        .when_matched_delete(condition=F.col("s.__delete"))
        .when_matched_update_all().when_not_matched_insert_all()
        .execute()))
    assert len(jobs) == CDC_MERGE_JOBS


# Spark jobs for one committing incremental_minhash_dedup call below,
# measured when the signature-store append counted its kept rows first
BASELINE_DEDUP_COMMIT_JOBS = 25


def test_incremental_dedup_commit_job_count(spark, tmp_path):
    from deltalake_poc_spark.pipeline import dedup

    # ingest batches arrive as files, so the plan carries a size
    spark.createDataFrame(
        [(i, " ".join(f"w{i % 5}_{k}" for k in range(12)) + f" tail{i}")
         for i in range(20)], "doc_id long, text string"
    ).write.parquet(str(tmp_path / "docs"))
    docs = spark.read.parquet(str(tmp_path / "docs"))
    store = dedup.signature_store_init(spark, str(tmp_path / "store"))
    dedup.signature_store_append(store, docs.filter("doc_id < 10"))
    ids = _job_ids(spark, f"dedup-commit-{tmp_path.name}",
                   lambda: dedup.incremental_minhash_dedup(
                       store, docs.filter("doc_id >= 10")))
    assert store.version() == 2
    assert len(ids) < BASELINE_DEDUP_COMMIT_JOBS


# Parquet rows read per operation on _row_level_table (every scan of
# a data, change or sidecar file counts), measured before DELETE,
# UPDATE and MERGE shared one executor. Job counts miss a second scan
# of the same files inside one job or a job that replaced another.
BASELINE_ROWS_READ = {
    (True, "delete", "cow"): 20, (True, "update", "cow"): 20,
    (True, "merge", "cow"): 15, (True, "delete", "dv"): 20,
    (True, "update", "dv"): 15, (True, "merge", "dv"): 17,
    (False, "delete", "cow"): 20, (False, "update", "cow"): 20,
    (False, "merge", "cow"): 10, (False, "delete", "dv"): 10,
    (False, "update", "dv"): 13, (False, "merge", "dv"): 13}


@pytest.mark.parametrize("cdf", [True, False], ids=["cdf", "nocdf"])
@pytest.mark.parametrize("mode", ["cow", "dv"])
@pytest.mark.parametrize("op", ["delete", "update", "merge"])
def test_row_level_rows_read(spark, tmp_path, op, mode, cdf):
    t = _row_level_table(spark, tmp_path, mode == "dv")
    if not cdf:
        t.set_properties({"enableChangeDataFeed": "false"})
    ids = _job_ids(spark, f"rows-read-{op}-{mode}-{cdf}-{tmp_path.name}",
                   lambda: _row_level_op(spark, t, op))
    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()  # stage metrics arrive async
    read = 0
    for j in ids:
        for s in sc.statusTracker().getJobInfo(j).stageIds:
            attempts = jsc.statusStore().stageData(s, False, None, False, None)
            read += sum(attempts.apply(i).inputRecords()
                        for i in range(attempts.size()))
    assert read <= BASELINE_ROWS_READ[cdf, op, mode]


@pytest.mark.parametrize("mode", ["cow", "dv"])
def test_one_log_replay_per_operation(spark, tmp_path, monkeypatch, mode):
    """Each append, MERGE, DELETE and UPDATE plans, writes and commits
    against the one snapshot it pinned: a single TableLog.snapshot call
    (no checkpoint due, no rival commit)."""
    from deltalake_poc_spark.tables.log import TableLog

    t = _row_level_table(spark, tmp_path, mode == "dv")
    calls = []
    real = TableLog.snapshot

    def counting(self, *a, **kw):
        calls.append(a)
        return real(self, *a, **kw)

    monkeypatch.setattr(TableLog, "snapshot", counting)
    ops = {"append": lambda: t.write(make_df(spark, [(50, "n", "n@x")])),
           "merge": lambda: _row_level_op(spark, t, "merge"),
           "delete": lambda: _row_level_op(spark, t, "delete"),
           "update": lambda: _row_level_op(spark, t, "update")}
    replays = {}
    for name, run in ops.items():
        calls.clear()
        run()
        replays[name] = len(calls)
    assert replays == {name: 1 for name in ops}


def test_delete_predicate(spark, table):
    table.write(make_df(spark, [(i, f"n{i}", f"n{i}@x") for i in range(10)]))
    c = table.delete("id >= 7")
    assert c.metrics["numDeletedRows"] == 3
    assert table.read().count() == 7
    c2 = table.delete("id >= 100")  # no match -> no-op commit
    assert c2.metrics["numDeletedRows"] == 0


def test_update(spark, table):
    table.write(make_df(spark, [(1, "a", "a@x"), (2, "b", "b@x")]))
    table.update({"email": F.lit("new@x")}, "id = 2")
    assert rows_of(table.read()) == [(1, "a", "a@x"), (2, "b", "new@x")]


def test_change_data_feed(spark, table):
    table.write(make_df(spark, [(1, "a", "a@x"), (2, "b", "b@x")]))     # v1 insert x2
    (table.merge(make_df(spark, [(2, "B", "B@x"), (3, "c", "c@x")]), on="id")
     .when_matched_update_all().when_not_matched_insert_all().execute())  # v2
    table.delete("id = 1")                                               # v3
    cdf = table.read_change_feed(starting_version=0)
    got = sorted(
        (r["_commit_version"], r["_change_type"], r["id"]) for r in cdf.collect()
    )
    assert got == [
        (1, "insert", 1), (1, "insert", 2),
        (2, "insert", 3),
        (2, "update_postimage", 2), (2, "update_preimage", 2),
        (3, "delete", 1),
    ]
    # range filter: only v2+
    assert all(r["_commit_version"] >= 2
               for r in table.read_change_feed(starting_version=2).collect())


def test_cdf_disabled_raises(spark, tmp_path):
    t = VersionedTable.create(spark, str(tmp_path / "nocdf"), SCHEMA)
    with pytest.raises(ValueError, match="enableChangeDataFeed"):
        t.read_change_feed()


def test_history_metrics(spark, table):
    table.write(make_df(spark, [(1, "a", "a@x")]))
    (table.merge(make_df(spark, [(1, "A", "A@x")]), on="id")
     .when_matched_update_all().execute())
    h = table.history()
    assert [c["operation"] for c in h] == ["MERGE", "APPEND", "CREATE TABLE"]
    assert h[0]["metrics"]["numTargetRowsUpdated"] == 1
    assert table.history_df().count() == 3


def test_optimize_compacts(spark, table):
    for i in range(5):
        table.write(make_df(spark, [(i, f"n{i}", f"e{i}")]))
    before = table.read()
    n_files_before = len(table.snapshot().files)
    table.optimize(target_file_rows=1000)
    assert len(table.snapshot().files) < n_files_before
    assert rows_of(table.read()) == rows_of(before)


def test_vacuum(spark, table):
    import os
    table.write(make_df(spark, [(1, "a", "a@x")]))
    (table.merge(make_df(spark, [(1, "A", "A@x")]), on="id")
     .when_matched_update_all().execute())               # writes CDF changes
    table.write(make_df(spark, [(2, "b", "b@x")]), "overwrite")
    data = table.log.data_dir()
    assert len(os.listdir(data)) >= 2
    assert table.vacuum(retention_hours=168.0) == []     # too young
    deleted = table.vacuum(retention_hours=0.0)
    assert len(deleted) >= 1
    # aged-out CDF change files are vacuumed too
    assert any(d.startswith("_changes/") for d in deleted)
    assert rows_of(table.read()) == [(2, "b", "b@x")]    # current still reads


def test_restore(spark, table):
    table.write(make_df(spark, [(1, "a", "a@x")]))                     # v1
    table.write(make_df(spark, [(9, "z", "z@x")]), "overwrite")        # v2
    table.restore(1)                                                   # v3
    assert rows_of(table.read()) == [(1, "a", "a@x")]
    assert table.history()[0]["operation"] == "RESTORE"


def test_schema_evolution_append(spark, table):
    table.write(make_df(spark, [(1, "a", "a@x")]))
    evolved = spark.createDataFrame(
        [(2, "b", "b@x", "NEW")], "id long, name string, email string, extra string")
    table.write(evolved)  # mergeSchema semantics
    df = table.read()
    assert "extra" in df.columns
    got = {(r["id"], r["extra"]) for r in df.collect()}
    assert got == {(1, None), (2, "NEW")}


def test_set_properties(spark, tmp_path):
    t = VersionedTable.create(spark, str(tmp_path / "p"), SCHEMA)
    assert not t.cdf_enabled()
    t.set_properties({"enableChangeDataFeed": "true"})
    assert t.cdf_enabled()


def test_concurrent_commit_rejected(spark, table):
    from deltalake_poc_spark.tables.log import Commit
    v = table.log.next_version()
    table.log.write_commit(Commit(version=v, timestamp=table.log.monotonic_now_ms(),
                                  operation="APPEND"))
    with pytest.raises(ConcurrentWriteError):
        table.log.write_commit(Commit(version=v, timestamp=0, operation="APPEND"))


def test_merge_file_pruning(spark, table):
    """Files whose key range can't contain source keys are not rewritten."""
    df = spark.range(0, 1000).select(
        F.col("id"), F.concat(F.lit("n"), F.col("id")).alias("name"),
        F.lit("e@x").alias("email"))
    # write as 10 range-partitioned files -> tight id min/max per file
    table.write(df.repartitionByRange(10, "id"))
    files_before = {e.path for e in table.snapshot().files}
    assert len(files_before) == 10
    src = make_df(spark, [(5, "FIVE", "five@x")])
    c = (table.merge(src, on="id").when_matched_update_all()
         .when_not_matched_insert_all().execute())
    # only the one file containing id=5 was rewritten
    assert c.metrics["numTargetFilesRemoved"] == 1
    assert table.read().filter("id = 5").collect()[0]["name"] == "FIVE"
    assert table.read().count() == 1000


def test_materialize_preserves_concurrent_staging(spark, tmp_path):
    """_materialize must clean up only its OWN staging dir: rmtree of
    the shared _staging parent silently discarded a concurrent
    writer's in-flight files (write() explicitly supports concurrent
    appends via its retry loop)."""
    import os

    schema = spark.createDataFrame([], "id long, v string").schema
    root = str(tmp_path / "t")
    t = VersionedTable.create(spark, root, schema)
    # simulate another writer's staging output in flight
    other = t.log.new_data_file_dir()
    os.makedirs(other)
    marker = os.path.join(other, "part-in-flight.parquet")
    with open(marker, "wb") as f:
        f.write(b"placeholder")

    t.write(spark.createDataFrame([(1, "a")], schema))
    assert os.path.exists(marker), "concurrent staging dir was deleted"
    assert sorted(r["id"] for r in t.read().collect()) == [1]


def test_clone_zero_copy(spark, tmp_path):
    """Shallow CLONE: hard-linked data, independent divergence, and
    survival of source vacuum/drop (self-contained inodes)."""
    import os

    t = VersionedTable.create(spark, str(tmp_path / "src"), SCHEMA)
    t.write(make_df(spark, [(1, "a", "a@x"), (2, "b", "b@x")]), "append")
    t.write(make_df(spark, [(3, "c", "c@x")]), "append")
    v1 = t.version()
    t.write(make_df(spark, [(4, "d", "d@x")]), "append")

    # clone at the older version: sees 3 rows, not 4
    c = t.clone(str(tmp_path / "clone"), version=v1)
    assert sorted(r["id"] for r in c.read().collect()) == [1, 2, 3]
    # data files are hard links (same inode), not copies
    src_file = t.log.abs_path(t.snapshot(v1).files[0].path)
    assert os.stat(src_file).st_nlink >= 2

    # divergence: writes to the clone don't touch the source
    c.write(make_df(spark, [(9, "z", "z@x")]), "append")
    assert sorted(r["id"] for r in c.read().collect()) == [1, 2, 3, 9]
    assert sorted(r["id"] for r in t.read().collect()) == [1, 2, 3, 4]

    # the clone's history starts at its own v0 with CLONE provenance
    h0 = c.log.read_commit(0)
    assert h0.operation == "CLONE"
    assert h0.operation_parameters["sourceVersion"] == v1

    # source deletion leaves the clone fully readable (hard links)
    t.drop()
    assert sorted(r["id"] for r in c.read().collect()) == [1, 2, 3, 9]


def test_read_data_skipping(spark, tmp_path):
    """read(where=...) prunes files whose [min,max] stats cannot match,
    and always returns exactly read().filter(where)."""
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    t = VersionedTable.create(
        spark, str(tmp_path / "ds"),
        StructType([StructField("id", LongType()),
                    StructField("label", StringType())]))
    for lo in (0, 100, 200):
        t.write(spark.range(lo, lo + 100).select(
            F.col("id"), F.concat(F.lit("g"), (F.col("id") % 3)).alias("label"))
            .coalesce(1), "append")
    snap = t.snapshot()
    assert len(snap.files) == 3

    # provable range predicate: one file survives pruning
    assert len(t.files_matching("id >= 250")) == 1
    assert len(t.files_matching("id >= 100 AND id < 200")) == 1
    # flipped literal-first form
    assert len(t.files_matching("99 >= id")) == 1
    # equality outside every range: zero files, empty (not erroring) read
    assert t.files_matching("id = 1000") == []
    assert t.read(where="id = 1000").count() == 0

    # results always equal full-scan + filter
    for pred in ("id >= 250", "id >= 100 AND id < 200",
                 "id % 7 = 0",            # unprunable: modulo
                 "label = 'g1' AND id < 50"):
        got = sorted(r["id"] for r in t.read(where=pred).collect())
        want = sorted(r["id"] for r in t.read().filter(pred).collect())
        assert got == want, pred
    # unprunable predicates keep every file (conservative)
    assert len(t.files_matching("id % 7 = 0")) == 3
    # string-stats pruning works too
    assert len(t.files_matching("label = 'zzz'")) == 0


def test_read_data_skipping_respects_dv_and_time_travel(spark, tmp_path):
    """Stats pruning stays correct when rows were deleted via deletion
    vectors (stats over-approximate) and composes with time travel."""
    from pyspark.sql.types import LongType, StructField, StructType

    t = VersionedTable.create(
        spark, str(tmp_path / "dsdv"),
        StructType([StructField("id", LongType())]),
        properties={"enableDeletionVectors": "true"})
    t.write(spark.range(0, 100).coalesce(1), "append")
    t.write(spark.range(100, 200).coalesce(1), "append")
    v_before = t.log.latest_version()
    t.delete("id >= 150")

    got = sorted(r["id"] for r in t.read(where="id >= 140").collect())
    assert got == list(range(140, 150))
    # time travel back: the DV delete is not visible
    got = sorted(r["id"] for r in
                 t.read(version=v_before, where="id >= 140").collect())
    assert got == list(range(140, 200))


def test_delete_update_discovery_is_stats_pruned(spark, tmp_path):
    """DELETE/UPDATE find their touched files by scanning only the
    stats-candidate files; results are identical to a full scan."""
    from pyspark.sql.types import LongType, StructField, StructType

    t = VersionedTable.create(
        spark, str(tmp_path / "dup"),
        StructType([StructField("id", LongType()),
                    StructField("v", LongType())]))
    for lo in (0, 100, 200):
        t.write(spark.range(lo, lo + 100).select(
            F.col("id"), (F.col("id") * 10).alias("v")).coalesce(1),
            "append")
    # the candidate list for a point predicate is one file
    assert len(t._candidate_paths(t.snapshot(), "id = 250")) == 1

    c = t.delete("id = 250")
    assert c.metrics["numDeletedRows"] == 1
    # only the containing file was rewritten
    assert c.metrics["numRemovedFiles"] == 1
    assert t.read().count() == 299

    c = t.update({"v": "v + 1"}, "id = 7")
    assert c.metrics["numRemovedFiles"] == 1
    assert t.read(where="id = 7").collect()[0]["v"] == 71
    # predicate outside every file range: clean no-op
    c = t.delete("id = 99999")
    assert c.operation_parameters.get("predicate") == "id = 99999"
    assert t.read().count() == 299


def test_partition_pruning_in_files_matching(spark, tmp_path):
    """Predicates on partition columns prune by the exact partition
    value (a point, not an interval) and compose with stats pruning;
    OPTIMIZE ZORDER clusters stats so multi-column predicates prune."""
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    t = VersionedTable.create(
        spark, str(tmp_path / "pp"),
        StructType([StructField("id", LongType()),
                    StructField("region", StringType())]),
        partition_by=["region"])
    t.write(spark.range(0, 300).select(
        F.col("id"),
        F.concat(F.lit("r"), (F.col("id") % 3)).alias("region")), "append")
    snap = t.snapshot()
    total = len(snap.files)
    pruned = t.files_matching("region = 'r1'")
    assert 0 < len(pruned) < total
    got = sorted(r["id"] for r in t.read(where="region = 'r1'").collect())
    assert got == sorted(range(1, 300, 3))
    # numeric cast of partition strings: write an int-partitioned table
    t2 = VersionedTable.create(
        spark, str(tmp_path / "pp2"),
        StructType([StructField("id", LongType()),
                    StructField("bucket", LongType())]),
        partition_by=["bucket"])
    t2.write(spark.range(0, 100).select(
        F.col("id"), (F.col("id") % 4).alias("bucket")), "append")
    assert len(t2.files_matching("bucket >= 2")) < len(t2.snapshot().files)
    assert t2.read(where="bucket >= 2").count() == 50


def test_zorder_improves_stats_pruning(spark, tmp_path):
    """After OPTIMIZE ZORDER BY (a, b), point predicates on the SECOND
    clustered column prune files — the reason Z-order exists."""
    from pyspark.sql.types import LongType, StructField, StructType

    t = VersionedTable.create(
        spark, str(tmp_path / "z"),
        StructType([StructField("a", LongType()),
                    StructField("b", LongType())]))
    # b is uniformly shuffled across the initial files: no pruning on b
    t.write(spark.range(0, 4000).select(
        F.col("id").alias("a"),
        ((F.col("id") * 2654435761) % 1000).alias("b")).repartition(8),
        "append")
    before = len(t.files_matching("b = 500"))
    t.optimize(target_file_rows=500, zorder_by=["a", "b"])
    snap = t.snapshot()
    after = len(t.files_matching("b = 500", snap))
    assert after < len(snap.files), (after, len(snap.files))
    assert t.read(where="b = 500").count() == \
        t.read().filter("b = 500").count()


def test_bloom_filter_file_skipping(spark, tmp_path):
    """Equality lookups on a high-cardinality column: every file's
    [min, max] spans the whole value space (md5 strings, random
    partitioning) so interval stats prune nothing — the per-file bloom
    filters written under graft.bloomFilter.columns must do the
    pruning, and reads stay exact."""
    from pyspark.sql.types import LongType

    schema = StructType([StructField("id", LongType()),
                         StructField("rid", StringType()),
                         StructField("v", LongType())])
    t = VersionedTable.create(
        spark, str(tmp_path / "bloomy"), schema,
        properties={"graft.bloomFilter.columns": "rid"})
    df = spark.range(0, 4000).select(
        F.col("id"),
        F.md5(F.col("id").cast("string")).alias("rid"),
        (F.col("id") * 3).alias("v"))
    t.write(df.repartition(8), "append")
    snap = t.snapshot()
    assert len(snap.files) > 1
    assert all(e.bloom.get("rid") for e in snap.files)

    import hashlib
    target = hashlib.md5(b"1234").hexdigest()
    pred = f"rid = '{target}'"
    pruned = t.files_matching(pred, snap)
    # min/max cannot prune (hex strings span every file); bloom must
    assert len(pruned) < len(snap.files), \
        f"bloom pruned nothing: {len(pruned)}/{len(snap.files)}"
    rows = t.read(where=pred).collect()
    assert len(rows) == 1 and rows[0]["id"] == 1234 and rows[0]["v"] == 3702
    # an absent key prunes everything (within fpp; 8 files x 1% -> ~0)
    assert len(t.files_matching("rid = 'not-a-real-hash'", snap)) <= 1
    # non-equality predicates ignore blooms entirely
    assert len(t.files_matching("rid >= 'a'", snap)) == len(snap.files)
    # blooms survive the log round-trip (read back from commit JSON)
    t2 = VersionedTable(spark, t.log.root)
    assert all(e.bloom.get("rid") for e in t2.snapshot().files)


def test_bloom_build_is_distributed_not_driver_side(spark, tmp_path,
                                                    monkeypatch):
    """Writing N bloom-indexed files must NOT read column data through
    the driver: the blooms come from one distributed job over the
    staging dir (collect_blooms_distributed), and only the serialized
    filters reach the driver. Pin by poisoning the driver-side reader
    paths — pyarrow data reads and the single-file utility — for the
    duration of the write; stats still work (footer metadata only)."""
    import pyarrow.parquet as papq

    from deltalake_poc_spark.tables import stats as stats_mod

    schema = StructType([StructField("id", LongType()),
                         StructField("rid", StringType())])
    t = VersionedTable.create(
        spark, str(tmp_path / "bloomdist"), schema,
        properties={"graft.bloomFilter.columns": "rid"})
    df = spark.range(0, 2000).select(
        F.col("id"), F.md5(F.col("id").cast("string")).alias("rid"))

    def _no_driver_read(self, *a, **kw):
        raise AssertionError("driver-side parquet data read in write path")

    # worker processes are forked per-task and import pyarrow fresh,
    # so this poison only bites DRIVER-side reads
    monkeypatch.setattr(papq.ParquetFile, "read", _no_driver_read)
    monkeypatch.setattr(
        stats_mod, "collect_file_bloom",
        lambda *a, **kw: (_ for _ in ()).throw(
            AssertionError("collect_file_bloom on write path")))
    t.write(df.repartition(6), "append")
    monkeypatch.undo()

    snap = t.snapshot()
    assert len(snap.files) > 1
    assert all(e.bloom.get("rid") for e in snap.files)
    # the distributed blooms agree with the single-file reference
    # implementation file-by-file
    for e in snap.files:
        ref = stats_mod.collect_file_bloom(t.log.abs_path(e.path), ["rid"])
        assert e.bloom["rid"] == ref["rid"], e.path
    # and they prune
    import hashlib
    target = hashlib.md5(b"77").hexdigest()
    assert len(t.files_matching(f"rid = '{target}'", snap)) < len(snap.files)


def test_bloom_skips_ineligible_types_both_sides(spark, tmp_path):
    """Timestamp/date/decimal columns must get NO bloom at all:
    str()-canonicalization differs between the write side (python
    datetime) and read side (ISO literal / Decimal('2.00')), and a
    bloom miss is a DEFINITIVE prune — a partial or mismatched bitset
    silently drops matching files. Eligible columns on the same table
    still bloom."""
    from pyspark.sql.types import TimestampType

    from deltalake_poc_spark.tables.stats import (bloom_build,
                                                  bloom_might_contain)

    schema = StructType([StructField("id", LongType()),
                         StructField("rid", StringType()),
                         StructField("ts", TimestampType())])
    t = VersionedTable.create(
        spark, str(tmp_path / "bloomts"), schema,
        properties={"graft.bloomFilter.columns": "rid,ts"})
    df = spark.range(0, 400).select(
        F.col("id"),
        F.md5(F.col("id").cast("string")).alias("rid"),
        F.to_timestamp(F.lit("2024-01-01 00:00:00")).alias("ts"))
    t.write(df.repartition(4), "append")
    snap = t.snapshot()
    assert all("ts" not in e.bloom for e in snap.files), \
        "ineligible type produced a bloom (wrong-results prune hazard)"
    assert all(e.bloom.get("rid") for e in snap.files)
    # a timestamp equality predicate must not prune via blooms
    n = len(t.files_matching("ts = '2024-01-01 00:00:00'", snap))
    assert n == len(snap.files)
    assert t.read(where="ts = '2024-01-01 00:00:00'").count() == 400
    # unit level: ineligible build -> None; ineligible probe -> maybe
    import datetime
    assert bloom_build([datetime.datetime(2024, 1, 1)]) is None
    b = bloom_build(["x"])
    assert bloom_might_contain(b, datetime.datetime(2024, 1, 1))


def test_bloom_distributed_build_covers_partitioned_writes(spark, tmp_path):
    """The staged-path mapping behind the distributed bloom build must
    survive Hive partition dirs with URI-escaped characters (space,
    '#'): input_file_name returns a DOUBLY-encoded URI for an on-disk
    escaped dir name ('grp=a b' -> disk 'grp=a%20b' -> URI
    'grp=a%2520b'), and one unquote lands exactly back on the on-disk
    name. A mapping miss here silently drops blooms (no wrong results
    — just unpruned reads), so pin that EVERY partition's files carry
    one."""
    schema = StructType([StructField("id", LongType()),
                         StructField("rid", StringType()),
                         StructField("grp", StringType())])
    t = VersionedTable.create(
        spark, str(tmp_path / "bloompart"), schema,
        properties={"graft.bloomFilter.columns": "rid"},
        partition_by=["grp"])
    df = spark.range(0, 300).select(
        F.col("id"), F.md5(F.col("id").cast("string")).alias("rid"),
        F.when(F.col("id") % 2 == 0, "a b").otherwise("c#d").alias("grp"))
    t.write(df, "append")
    snap = t.snapshot()
    assert {tuple(e.partition.items()) for e in snap.files} == \
        {(("grp", "a b"),), (("grp", "c#d"),)}
    missing = [e.path for e in snap.files if not e.bloom.get("rid")]
    assert not missing, f"files without blooms: {missing}"
    # bloom + partition pruning compose on a point lookup
    import hashlib
    target = hashlib.md5(b"10").hexdigest()
    pruned = t.files_matching(f"rid = '{target}'", snap)
    assert len(pruned) < len(snap.files)
    rows = t.read(where=f"rid = '{target}'").collect()
    assert len(rows) == 1 and rows[0]["grp"] == "a b"


def test_bloom_columns_follow_rename_and_optimize(spark, tmp_path):
    """graft.bloomFilter.columns names LOGICAL columns: after RENAME
    COLUMN the property follows, so new files bloom under the new
    name; files rewritten by OPTIMIZE regenerate their blooms."""
    schema = StructType([StructField("id", LongType()),
                         StructField("rid", StringType())])
    t = VersionedTable.create(
        spark, str(tmp_path / "bloomren"), schema,
        properties={"graft.bloomFilter.columns": "rid"})
    mk = lambda a, b: spark.range(a, b).select(
        F.col("id"), F.md5(F.col("id").cast("string")).alias("rid"))
    t.write(mk(0, 500).repartition(2), "append")
    t.rename_column("rid", "row_key")
    assert t.properties()["graft.bloomFilter.columns"] == "row_key"
    t.write(mk(500, 1000).withColumnRenamed("rid", "row_key")
            .repartition(2), "append")
    snap = t.snapshot()
    newer = [e for e in snap.files if e.bloom.get("row_key")]
    assert len(newer) >= 2  # post-rename files bloom under the new name
    # OPTIMIZE rewrites everything -> all files bloom under row_key
    t.optimize()
    snap2 = t.snapshot()
    assert snap2.files and all(e.bloom.get("row_key") for e in snap2.files)
    import hashlib
    target = hashlib.md5(b"42").hexdigest()
    pred = f"row_key = '{target}'"
    assert len(t.files_matching(pred, snap2)) <= len(snap2.files)
    got = t.read(where=pred).collect()
    assert len(got) == 1 and got[0]["id"] == 42


def test_vacuum_sweeps_orphaned_staging(spark, tmp_path):
    """A writer that crashes between the staging write and the commit
    leaves <root>/_staging/<uuid> with full data files; VACUUM ages
    those by mtime like other orphans — expired ones are deleted,
    fresh ones (an in-flight writer) survive."""
    import os
    import time

    schema = StructType([StructField("id", LongType())])
    t = VersionedTable.create(spark, str(tmp_path / "vs"), schema)
    t.write(spark.range(5).select(F.col("id")), "append")

    stale = t.log.new_data_file_dir()
    fresh = t.log.new_data_file_dir()
    for d in (stale, fresh):
        os.makedirs(d)
        with open(os.path.join(d, "part-orphan.parquet"), "wb") as fh:
            fh.write(b"x" * 10)
    old = time.time() - 10 * 24 * 3600
    os.utime(stale, (old, old))
    os.utime(os.path.join(stale, "part-orphan.parquet"), (old, old))

    deleted = t.vacuum(retention_hours=168.0)
    assert any(p.startswith("_staging/") for p in deleted), deleted
    assert not os.path.isdir(stale)
    assert os.path.isdir(fresh), "in-flight writer's staging was swept"
    # table still reads fine
    assert t.read().count() == 5


def test_model_based_random_op_sequences(spark, tmp_path):
    """Model-based check of the whole table lifecycle: a seeded random
    sequence of append / overwrite / delete / update / restore /
    optimize commits runs against BOTH the VersionedTable and a plain
    in-memory multiset model; after every commit the table must read
    back exactly the model, and at the end EVERY version must
    time-travel to the model state recorded when it was committed
    (optimize included — it must never change logical content).
    Three seeds x 18 commits each."""
    import random
    from collections import Counter

    def rows_multiset(df):
        return Counter((r["id"], r["name"], r["email"])
                       for r in df.collect())

    for seed in (7, 23, 99):
        rnd = random.Random(seed)
        t = VersionedTable.create(
            spark, str(tmp_path / f"model{seed}"), SCHEMA)
        model: Counter = Counter()
        next_id = 0
        by_version = {t.version(): Counter(model)}

        def fresh_rows(n):
            nonlocal next_id
            out = []
            for _ in range(n):
                out.append((next_id, f"n{next_id}", f"e{next_id}@x"))
                next_id += 1
            return out

        for _step in range(18):
            op = rnd.choice(
                ["append", "append", "overwrite", "delete", "update",
                 "restore", "optimize"])
            if op == "append":
                rows = fresh_rows(rnd.randrange(1, 6))
                t.write(make_df(spark, rows), "append")
                model.update(rows)
            elif op == "overwrite":
                rows = fresh_rows(rnd.randrange(1, 4))
                t.write(make_df(spark, rows), "overwrite")
                model = Counter(rows)
            elif op == "delete":
                cut = rnd.randrange(0, max(next_id, 1))
                t.delete(f"id >= {cut}")
                model = Counter({r: c for r, c in model.items()
                                 if r[0] < cut})
            elif op == "update":
                cut = rnd.randrange(0, max(next_id, 1))
                t.update({"email": F.lit("upd@x")}, f"id = {cut}")
                model = Counter({
                    ((r[0], r[1], "upd@x") if r[0] == cut else r): c
                    for r, c in model.items()})
            elif op == "restore":
                target = rnd.choice(sorted(by_version))
                t.restore(target)
                model = Counter(by_version[target])
            else:
                t.optimize(target_file_rows=1000)
            by_version[t.version()] = Counter(model)
            assert rows_multiset(t.read()) == model, \
                f"seed {seed} after {op} v{t.version()}"

        for v, expect in by_version.items():
            assert rows_multiset(t.read(version=v)) == expect, \
                f"seed {seed} time travel v{v}"


def test_model_based_cdf_reconstructs_every_commit(spark, tmp_path):
    """Change-data-feed completeness under a random op sequence: for
    EVERY commit of a seeded append/delete/update run, the CDF rows at
    that version must equal the op's expected change multiset
    (insert rows for appends, delete rows for matched deletes,
    pre+post image pairs for updates) — no missing, duplicated, or
    misattributed changes anywhere in the log."""
    import random
    from collections import Counter

    rnd = random.Random(31)
    t = VersionedTable.create(
        spark, str(tmp_path / "cdfmodel"), SCHEMA,
        properties={"enableChangeDataFeed": "true"})
    model: dict[int, tuple] = {}
    next_id = 0
    expected: dict[int, Counter] = {}

    for _step in range(15):
        op = rnd.choice(["append", "append", "delete", "update"])
        if op == "append":
            rows = []
            for _ in range(rnd.randrange(1, 5)):
                rows.append((next_id, f"n{next_id}", f"e{next_id}@x"))
                next_id += 1
            t.write(make_df(spark, rows), "append")
            for r in rows:
                model[r[0]] = r
            expected[t.version()] = Counter(
                ("insert",) + r for r in rows)
        elif op == "delete":
            cut = rnd.randrange(0, max(next_id, 1))
            doomed = [r for i, r in model.items() if i >= cut]
            t.delete(f"id >= {cut}")
            for r in doomed:
                del model[r[0]]
            expected[t.version()] = Counter(
                ("delete",) + r for r in doomed)
        else:
            k = rnd.randrange(0, max(next_id, 1))
            t.update({"email": F.lit("upd@x")}, f"id = {k}")
            changes: Counter = Counter()
            if k in model:
                old = model[k]
                new = (old[0], old[1], "upd@x")
                if old != new:
                    changes[("update_preimage",) + old] += 1
                    changes[("update_postimage",) + new] += 1
                    model[k] = new
            expected[t.version()] = changes

    cdf = t.read_change_feed(starting_version=0)
    got: dict[int, Counter] = {}
    for r in cdf.collect():
        got.setdefault(r["_commit_version"], Counter())[
            (r["_change_type"], r["id"], r["name"], r["email"])] += 1
    for v, exp in expected.items():
        assert got.get(v, Counter()) == exp, f"version {v}"
    assert set(got) <= set(expected), "changes at unexpected versions"
