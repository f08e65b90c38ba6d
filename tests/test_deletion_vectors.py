"""Deletion vectors: DELETE without rewriting data files.

With delta.enableDeletionVectors-style property set, DELETE records
(file, row position) sidecar rows under _dv/v=N and the read path
anti-joins them during the scan — deleting 1 row from a large file
costs a tiny sidecar write instead of a full rewrite. Every other
operation must see through the vectors: merge/update rewrites must
not resurrect deleted rows, OPTIMIZE and purge materialize, RESTORE
reverts to the target version's vectors, clone carries them, DV-mode
UPDATE appends post-images without rewriting, and standard-Delta
export re-encodes active vectors as protocol roaring descriptors.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

from deltalake_poc_spark.tables import VersionedTable

SCHEMA = StructType([
    StructField("id", LongType()),
    StructField("v", StringType()),
])


def df_of(spark, *ids):
    return spark.createDataFrame([(i, f"v{i}") for i in ids], SCHEMA)


@pytest.fixture()
def dvt(spark, tmp_path):
    t = VersionedTable.create(
        spark, str(tmp_path / "dv"), SCHEMA,
        properties={"enableDeletionVectors": "true"})
    t.write(df_of(spark, 1, 2, 3, 4, 5), "append")
    return t


def ids_of(t):
    return sorted(r["id"] for r in t.read().collect())


def test_dv_delete_no_rewrite(spark, dvt):
    files_before = set(dvt.snapshot().file_paths)
    c = dvt.delete("id = 3")
    assert c.operation_parameters["deletionVectors"] is True
    assert c.metrics["numDeletedRows"] == 1
    assert c.metrics["numRemovedFiles"] == 0 and not c.add
    # data files untouched; row hidden by the vector
    assert set(dvt.snapshot().file_paths) == files_before
    assert ids_of(dvt) == [1, 2, 4, 5]
    assert dvt.snapshot().dvs  # vector is active
    # time travel before the delete still sees the row
    assert sorted(r["id"] for r in t_read(dvt, c.version - 1)) == [1, 2, 3, 4, 5]


def t_read(t, version):
    return t.read(version=version).collect()


def test_dv_deletes_consolidate(spark, dvt):
    dvt.delete("id = 1")
    c2 = dvt.delete("id = 2")
    assert ids_of(dvt) == [3, 4, 5]
    # consolidation: one active DV dir, counting only the new row
    assert len(set(dvt.snapshot().dvs.values())) == 1
    assert c2.metrics["numDeletedRows"] == 1
    # delete of an already-deleted row is a no-op commit
    c3 = dvt.delete("id = 1")
    assert ids_of(dvt) == [3, 4, 5]
    assert c3.metrics.get("numDeletedRows", 0) == 0


def test_merge_does_not_resurrect_dv_rows(spark, dvt):
    dvt.delete("id = 2")
    src = df_of(spark, 4).withColumn("v", F.lit("v4x"))
    (dvt.merge(src, on="id")
     .when_matched_update_all().when_not_matched_insert_all().execute())
    got = {r["id"]: r["v"] for r in dvt.read().collect()}
    assert got == {1: "v1", 3: "v3", 4: "v4x", 5: "v5"}  # no id=2


def test_update_respects_dvs(spark, dvt):
    dvt.delete("id = 5")
    dvt.update({"v": "concat(v, '!')"}, "id >= 4")
    got = {r["id"]: r["v"] for r in dvt.read().collect()}
    assert got == {1: "v1", 2: "v2", 3: "v3", 4: "v4!"}


def test_optimize_and_purge_materialize(spark, dvt):
    dvt.delete("id in (1, 2)")
    assert dvt.snapshot().dvs
    c = dvt.purge_deletion_vectors()
    assert c.operation == "PURGE"
    assert not dvt.snapshot().dvs
    assert ids_of(dvt) == [3, 4, 5]
    # second purge is a no-op
    assert dvt.purge_deletion_vectors().operation == "PURGE"

    dvt.delete("id = 4")
    dvt.optimize(target_file_rows=10)
    assert not dvt.snapshot().dvs  # compaction materialized the vector
    assert ids_of(dvt) == [3, 5]


def test_restore_reverts_vectors(spark, dvt):
    v_before = dvt.version()
    dvt.delete("id = 3")
    dvt.restore(v_before)
    assert ids_of(dvt) == [1, 2, 3, 4, 5]
    assert not dvt.snapshot().dvs


def test_dv_cdf_emits_delete_rows(spark, tmp_path):
    t = VersionedTable.create(
        spark, str(tmp_path / "dvc"), SCHEMA,
        properties={"enableDeletionVectors": "true",
                    "enableChangeDataFeed": "true"})
    t.write(df_of(spark, 1, 2, 3), "append")
    c = t.delete("id = 2")
    cdf = t.read_change_feed(c.version)
    rows = [(r["id"], r["_change_type"]) for r in cdf.collect()]
    assert rows == [(2, "delete")]


def test_clone_carries_vectors(spark, dvt, tmp_path):
    dvt.delete("id = 1")
    c = dvt.clone(str(tmp_path / "dvclone"))
    assert sorted(r["id"] for r in c.read().collect()) == [2, 3, 4, 5]
    dvt.drop()
    assert sorted(r["id"] for r in c.read().collect()) == [2, 3, 4, 5]


def test_export_encodes_active_vectors(spark, dvt, tmp_path):
    """Export no longer refuses DV tables: active vectors re-encode as
    standard roaring descriptors and the replayer agrees (full DV
    export matrix in test_deltaexport.py)."""
    from deltalake_poc_spark.tables.deltaexport import export_standard_delta
    from deltalake_poc_spark.tables.deltareader import DeltaLakeReader

    dvt.delete("id = 1")
    export_standard_delta(dvt, str(tmp_path / "exp"))
    r = DeltaLakeReader(spark, str(tmp_path / "exp"))
    assert sorted(x["id"] for x in r.read().collect()) == [2, 3, 4, 5]
    assert len(r.snapshot().dvs) == 1


def test_vacuum_cleans_orphaned_dv_dirs(spark, dvt):
    dvt.delete("id = 1")
    dvt.delete("id = 2")  # consolidates; v-of-first-delete dir orphaned
    dv_root = os.path.join(dvt.log.root, "_dv")
    assert len(os.listdir(dv_root)) == 2
    deleted = dvt.vacuum(retention_hours=0)
    assert any(d.startswith("_dv/") for d in deleted)
    assert len(os.listdir(dv_root)) == 1  # active DV dir survives
    assert ids_of(dvt) == [3, 4, 5]


def test_dv_on_partitioned_table(spark, tmp_path):
    """DV positions must survive the Hive-layout read path (basePath +
    partition-dir recovery uses a different scan configuration)."""
    schema = StructType([
        StructField("id", LongType()),
        StructField("region", StringType()),
        StructField("v", StringType()),
    ])
    t = VersionedTable.create(
        spark, str(tmp_path / "dvp"), schema,
        properties={"enableDeletionVectors": "true"},
        partition_by=["region"])
    t.write(spark.createDataFrame(
        [(1, "eu", "a"), (2, "eu", "b"), (3, "us", "c"), (4, "us", "d")],
        schema), "append")
    files_before = set(t.snapshot().file_paths)
    c = t.delete("id in (2, 3)")
    assert c.metrics["numDeletedRows"] == 2
    assert set(t.snapshot().file_paths) == files_before  # no rewrite
    got = {(r["id"], r["region"]) for r in t.read().collect()}
    assert got == {(1, "eu"), (4, "us")}
    # partition pruning still sees through the vector
    eu = t.read().filter("region = 'eu'").collect()
    assert [(r["id"], r["v"]) for r in eu] == [(1, "a")]
    # purge materializes per-partition
    t.purge_deletion_vectors()
    assert not t.snapshot().dvs
    got = {(r["id"], r["region"]) for r in t.read().collect()}
    assert got == {(1, "eu"), (4, "us")}


def test_dv_paths_with_uri_escaped_characters(spark, tmp_path):
    """Sidecar rows name their data files by log-relative path, mapped
    back from the scan's percent-encoded file URIs: a table root and
    partition values holding ' ', '+', '%' and '#' must still resolve
    to the exact files the log lists (a miss would drop or fail the
    vector), through DELETE, UPDATE and MERGE."""
    schema = StructType([
        StructField("id", LongType()),
        StructField("region", StringType()),
        StructField("v", StringType()),
    ])
    t = VersionedTable.create(
        spark, str(tmp_path / "a b+c%20d#e"), schema,
        properties={"enableDeletionVectors": "true"},
        partition_by=["region"])
    t.write(spark.createDataFrame(
        [(1, "e u+1%", "a"), (2, "e u+1%", "b"), (3, "u#s", "c"),
         (4, "u#s", "d")], schema), "append")
    t.delete("id = 2")
    t.update({"v": F.lit("C")}, "id = 3")
    (t.merge(spark.createDataFrame([(4, "u#s", "D")], schema), on="id")
     .when_matched_update_all().execute())
    snap = t.snapshot()
    assert set(snap.dvs) <= set(snap.file_paths)
    got = sorted((r["id"], r["region"], r["v"]) for r in t.read().collect())
    assert got == [(1, "e u+1%", "a"), (3, "u#s", "C"), (4, "u#s", "D")]
    assert t.count_rows() == 3


def test_dv_update_appends_postimages_without_rewrite(spark, dvt):
    """DV-enabled UPDATE: old rows vanish via the vector, post-images
    append as new files; the original data files are untouched."""
    files_before = {e.path for e in dvt.snapshot().files}
    c = dvt.update({"v": F.concat(F.col("v"), F.lit("!"))}, "id <= 2")
    assert c.operation == "UPDATE"
    assert c.metrics["numUpdatedRows"] == 2
    assert c.metrics["numRemovedFiles"] == 0
    got = sorted((r["id"], r["v"]) for r in dvt.read().collect())
    assert got == [(1, "v1!"), (2, "v2!"), (3, "v3"), (4, "v4"), (5, "v5")]
    snap = dvt.snapshot()
    # originals still present (not rewritten), plus >=1 post-image file
    assert files_before <= {e.path for e in snap.files}
    assert len(snap.files) > len(files_before)
    assert snap.dvs  # old positions vectored out
    # time travel sees the pre-update values
    pre = sorted((r["id"], r["v"])
                 for r in dvt.read(version=c.version - 1).collect())
    assert pre == [(i, f"v{i}") for i in (1, 2, 3, 4, 5)]


def test_dv_update_then_delete_consolidates(spark, dvt):
    dvt.update({"v": F.lit("X")}, "id = 1")
    dvt.delete("id = 2")
    assert sorted((r["id"], r["v"]) for r in dvt.read().collect()) == [
        (1, "X"), (3, "v3"), (4, "v4"), (5, "v5")]
    # consolidation: one active DV dir for all vectored files
    assert len(set(dvt.snapshot().dvs.values())) == 1


def test_dv_update_cdf_pre_and_post_images(spark, tmp_path):
    t = VersionedTable.create(
        spark, str(tmp_path / "dvu"), SCHEMA,
        properties={"enableDeletionVectors": "true",
                    "enableChangeDataFeed": "true"})
    t.write(df_of(spark, 1, 2, 3), "append")
    c = t.update({"v": F.lit("up")}, "id = 2")
    rows = sorted((r["_change_type"], r["id"], r["v"])
                  for r in t.read_change_feed(c.version).collect())
    assert rows == [("update_postimage", 2, "up"),
                    ("update_preimage", 2, "v2")]


def test_dv_update_noop_and_constraint(spark, dvt):
    c = dvt.update({"v": F.lit("never")}, "id = 999")
    # no match -> a no-op commit (same convention as DELETE): no files
    # added, no vectors written, table content unchanged
    assert not c.add and not c.dv_updates
    assert ids_of(dvt) == [1, 2, 3, 4, 5]
    dvt.add_constraint("v_short", "length(v) <= 4")
    with pytest.raises(Exception, match="v_short|violat|CHECK"):
        dvt.update({"v": F.lit("toolong")}, "id = 1")
    assert ids_of(dvt) == [1, 2, 3, 4, 5]
    assert dvt.read().filter("v = 'toolong'").count() == 0


def test_dv_update_exports_standard(spark, dvt, tmp_path):
    """A DV UPDATE commit (add + dv_updates together) round-trips
    through the standard-protocol export."""
    from deltalake_poc_spark.tables.deltaexport import export_standard_delta
    from deltalake_poc_spark.tables.deltareader import DeltaLakeReader

    dvt.update({"v": F.lit("U")}, "id IN (2, 4)")
    dest = str(tmp_path / "exp")
    export_standard_delta(dvt, dest)
    r = DeltaLakeReader(spark, dest)
    for v in range(dvt.version() + 1):
        ours = sorted((x["id"], x["v"])
                      for x in dvt.read(version=v).collect())
        theirs = sorted((x["id"], x["v"])
                        for x in r.read(version=v).collect())
        assert ours == theirs, v


def test_dv_merge_zero_copy_amplification(spark, dvt):
    """DV-mode MERGE: matched update+delete vector the old rows and
    append only the changed images — the original files survive and
    numTargetRowsCopied is structurally zero."""
    files_before = {e.path for e in dvt.snapshot().files}
    src = spark.createDataFrame(
        [(2, "v2new"), (5, None), (9, "v9")], SCHEMA)
    c = (dvt.merge(src, on="id")
         .when_matched_delete(condition=F.col("s.v").isNull())
         .when_matched_update_all(condition=F.col("s.v").isNotNull())
         .when_not_matched_insert_all()
         .execute())
    assert c.metrics["numTargetRowsUpdated"] == 1
    assert c.metrics["numTargetRowsDeleted"] == 1
    assert c.metrics["numTargetRowsInserted"] == 1
    assert c.metrics["numTargetRowsCopied"] == 0
    assert c.metrics["numTargetFilesRemoved"] == 0
    assert files_before <= {e.path for e in dvt.snapshot().files}
    got = sorted((r["id"], r["v"]) for r in dvt.read().collect())
    assert got == [(1, "v1"), (2, "v2new"), (3, "v3"), (4, "v4"),
                   (9, "v9")]
    # time travel to the pre-merge version
    pre = sorted((r["id"], r["v"])
                 for r in dvt.read(version=c.version - 1).collect())
    assert pre == [(i, f"v{i}") for i in (1, 2, 3, 4, 5)]


def test_dv_merge_insert_only_writes_no_sidecar(spark, dvt):
    dv_root = os.path.join(dvt.log.root, "_dv")
    src = spark.createDataFrame([(10, "v10"), (11, "v11")], SCHEMA)
    c = (dvt.merge(src, on="id")
         .when_matched_update_all().when_not_matched_insert_all()
         .execute())
    assert c.metrics["numTargetRowsInserted"] == 2
    assert not c.dv_updates and not os.path.isdir(dv_root)
    assert ids_of(dvt) == [1, 2, 3, 4, 5, 10, 11]


@pytest.mark.parametrize("cdf", [True, False], ids=["cdf", "nocdf"])
def test_dv_delete_without_match_commits_noop(spark, dvt, cdf):
    """A DV DELETE that matches no live row (none at all, or only rows
    its vectors already hide) commits a no-op and leaves no sidecar or
    staged change files behind."""
    if cdf:
        dvt.set_properties({"enableChangeDataFeed": "true"})
    roots = [os.path.join(dvt.log.root, d) for d in ("_dv", "_changes")]

    def listing():
        return [sorted(os.listdir(d)) if os.path.isdir(d) else []
                for d in roots]

    def assert_noop(pred):
        before = listing()
        c = dvt.delete(pred)
        assert c.metrics == dict.fromkeys(
            ["numDeletedRows", "numCopiedRows", "numRemovedFiles",
             "numAddedFiles"], 0) and not c.dv_updates
        assert listing() == before

    assert_noop("id % 100 = 99")  # no vectors yet; stats cannot prune it
    dvt.delete("id = 1")
    assert_noop("id = 1")
    assert_noop("id % 100 = 99")
    assert ids_of(dvt) == [2, 3, 4, 5]


def test_dv_merge_with_schema_evolution(spark, dvt):
    """A DV merge that adds a source column reads the target under the
    evolved schema (old rows show the new column as null)."""
    src = spark.createDataFrame([(2, "B", "x"), (9, "v9", "y")],
                                "id long, v string, extra string")
    c = (dvt.merge(src, on="id").with_schema_evolution()
         .when_matched_update_all().when_not_matched_insert_all()
         .execute())
    assert c.metrics["numTargetRowsUpdated"] == 1
    assert c.metrics["numTargetRowsInserted"] == 1
    got = sorted(tuple(r) for r in dvt.read().collect())
    assert got == [(1, "v1", None), (2, "B", "x"), (3, "v3", None),
                   (4, "v4", None), (5, "v5", None), (9, "v9", "y")]


def test_dv_merge_cdf_parity(spark, tmp_path):
    """The DV merge's change feed must look exactly like the rewrite
    merge's for the same logical operation."""
    src_rows = [(2, "B"), (6, "F")]
    feeds = {}
    for mode, props in (
        ("rewrite", {"enableChangeDataFeed": "true"}),
        ("dv", {"enableChangeDataFeed": "true",
                "enableDeletionVectors": "true"}),
    ):
        t = VersionedTable.create(
            spark, str(tmp_path / mode), SCHEMA, properties=props)
        t.write(df_of(spark, 1, 2, 3), "append")
        c = (t.merge(spark.createDataFrame(src_rows, SCHEMA), on="id")
             .when_matched_update_all().when_not_matched_insert_all()
             .execute())
        feeds[mode] = sorted(
            (r["_change_type"], r["id"], r["v"])
            for r in t.read_change_feed(c.version).collect())
    assert feeds["dv"] == feeds["rewrite"] == [
        ("insert", 6, "F"),
        ("update_postimage", 2, "B"),
        ("update_preimage", 2, "v2"),
    ]


def test_dv_merge_exports_standard(spark, dvt, tmp_path):
    from deltalake_poc_spark.tables.deltaexport import export_standard_delta
    from deltalake_poc_spark.tables.deltareader import DeltaLakeReader

    (dvt.merge(spark.createDataFrame([(1, "one"), (7, "seven")], SCHEMA),
               on="id")
     .when_matched_update_all().when_not_matched_insert_all().execute())
    dvt.delete("id = 3")
    dest = str(tmp_path / "exp")
    export_standard_delta(dvt, dest)
    r = DeltaLakeReader(spark, dest)
    for v in range(dvt.version() + 1):
        ours = sorted((x["id"], x["v"])
                      for x in dvt.read(version=v).collect())
        theirs = sorted((x["id"], x["v"])
                        for x in r.read(version=v).collect())
        assert ours == theirs, v


def test_count_rows_metadata_only(spark, tmp_path):
    """count_rows answers COUNT(*) from the commit log (numRecords
    minus active DV cardinalities) — it must track the scan count
    through appends, DV deletes, purge, and restore."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType, StructField, StructType

    from deltalake_poc_spark.tables import VersionedTable

    schema = StructType([StructField("id", LongType()),
                         StructField("v", LongType())])
    t = VersionedTable.create(
        spark, str(tmp_path / "cnt"), schema,
        properties={"enableDeletionVectors": "true"})
    df = spark.range(0, 1000).select(
        F.col("id"), (F.col("id") * 2).alias("v"))
    t.write(df.repartition(4), "append")
    assert t.count_rows() == 1000 == t.read().count()
    t.delete("id % 10 = 0")  # 100 rows -> deletion vectors
    snap = t.snapshot()
    assert snap.dvs, "expected a DV delete, not a rewrite"
    assert t.count_rows() == 900 == t.read().count()
    t.delete("id = 1")
    assert t.count_rows() == 899 == t.read().count()
    t.purge_deletion_vectors()
    assert not t.snapshot().dvs
    assert t.count_rows() == 899 == t.read().count()
    t.restore(1)
    assert t.count_rows() == 1000 == t.read().count()


def test_noop_commits_carry_their_operations_metrics(spark, dvt, tmp_path):
    """history_df() of a commit that changed nothing shows the
    operation's own metric names, all zero: an OPTIMIZE of an empty
    table, a PURGE of a table without vectors, and a DV MERGE whose
    clauses match nothing."""
    import json

    empty = VersionedTable.create(spark, str(tmp_path / "empty"), SCHEMA)
    empty.optimize()
    dvt.purge_deletion_vectors()
    dvt.merge(df_of(spark, 1, 2), "id").when_matched_delete(
        "s.id > 100").execute()

    def history(t):
        return [(r["operation"], json.loads(r["operationMetrics"]))
                for r in t.history_df().orderBy("version").collect()]

    files = {"numRemovedFiles": 0, "numAddedFiles": 0}
    assert history(empty)[-1] == ("OPTIMIZE", files)
    assert history(dvt)[-2:] == [
        ("PURGE", files),
        ("MERGE", dict.fromkeys(
            ["numTargetRowsUpdated", "numTargetRowsInserted",
             "numTargetRowsDeleted", "numTargetRowsCopied", "numOutputRows",
             "numTargetFilesRemoved", "numTargetFilesAdded"], 0))]
