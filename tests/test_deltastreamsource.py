"""Streaming FROM standard Delta tables (format("standard_delta")):
the migration path for delta-spark readStream users. Fixtures come
from the engine's own standard-protocol export (round-tripping the
write half) and from the reference's delta-spark-committed tables."""

from __future__ import annotations

import json
import os

import pytest


from __spark_entry__ import _REF_DELTA as REF
from __spark_entry__ import _ref_delta_absent
from deltalake_poc_spark.tables import VersionedTable
from deltalake_poc_spark.tables.deltaexport import export_standard_delta
from deltalake_poc_spark.tables.deltareader import DeltaLakeReader
from deltalake_poc_spark.tables.streamsource import register_stream_source


def _run(spark, root, out_dir, ckpt, ignore_changes=False,
         starting_version=None):
    reader = spark.readStream.format("standard_delta").option("path", root)
    if ignore_changes:
        reader = reader.option("ignoreChanges", "true")
    if starting_version is not None:
        reader = reader.option("startingVersion", str(starting_version))
    q = (reader.load().writeStream.format("parquet")
         .option("path", out_dir)
         .option("checkpointLocation", ckpt)
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)
    return spark.read.parquet(out_dir)


def test_stream_appends_and_incremental_resume(spark, tmp_path):
    register_stream_source(spark)
    schema = spark.createDataFrame([], "id long, v string").schema
    src_root = str(tmp_path / "src")
    t = VersionedTable.create(spark, src_root, schema)
    t.write(spark.createDataFrame([(1, "a"), (2, "b")], schema))
    t.write(spark.createDataFrame([(3, "c")], schema))
    dest = str(tmp_path / "delta")
    export_standard_delta(t, dest)

    ckpt = str(tmp_path / "ckpt")
    out = _run(spark, dest, str(tmp_path / "out"), ckpt)
    assert sorted((r["id"], r["v"]) for r in out.collect()) == [
        (1, "a"), (2, "b"), (3, "c")]

    # new source commit synced into the mirror -> only the delta lands
    t.write(spark.createDataFrame([(4, "d")], schema))
    export_standard_delta(t, dest, incremental=True)
    out = _run(spark, dest, str(tmp_path / "out"), ckpt)
    assert sorted(r["id"] for r in out.collect()) == [1, 2, 3, 4]
    assert out.filter("id = 4").count() == 1


def test_stream_rejects_row_changes_without_ignore(spark, tmp_path):
    register_stream_source(spark)
    schema = spark.createDataFrame([], "id long, v string").schema
    t = VersionedTable.create(spark, str(tmp_path / "src"), schema)
    t.write(spark.createDataFrame([(1, "a"), (2, "b")], schema))
    t.delete("id = 1")
    dest = str(tmp_path / "delta")
    export_standard_delta(t, dest)
    with pytest.raises(Exception, match="ignoreChanges|append-only"):
        _run(spark, dest, str(tmp_path / "o1"), str(tmp_path / "c1"))


def test_dv_update_commits_emit_nothing_new(spark, tmp_path):
    """A deletion-vector delete re-adds the SAME data file with a new
    descriptor; with ignoreChanges the stream must skip it (the rows
    were already emitted) rather than duplicate the whole file."""
    register_stream_source(spark)
    schema = spark.createDataFrame([], "id long, v string").schema
    t = VersionedTable.create(
        spark, str(tmp_path / "src"), schema,
        properties={"enableDeletionVectors": "true"})
    t.write(spark.createDataFrame([(i, f"v{i}") for i in range(6)], schema))
    t.delete("id IN (1, 2)")   # DV commit: remove+add of the same path
    dest = str(tmp_path / "delta")
    export_standard_delta(t, dest)
    assert DeltaLakeReader(spark, dest).snapshot().dvs  # fixture sanity

    out = _run(spark, dest, str(tmp_path / "out"), str(tmp_path / "ckpt"),
               ignore_changes=True)
    # every original row exactly once; the DV update emitted nothing
    assert sorted(r["id"] for r in out.collect()) == list(range(6))


def test_born_with_dv_file_streams_live_rows_only(spark, tmp_path):
    """The synthesized protocol fixture's v2 adds a file born WITH a
    vector (odd ids dead): only live rows may stream."""
    import __spark_entry__ as entrymod

    register_stream_source(spark)
    root = entrymod._dv_fixture_root()
    out = _run(spark, root, str(tmp_path / "out"), str(tmp_path / "ckpt"),
               ignore_changes=True)
    got = sorted(r["id"] for r in out.collect())
    # v0: files f0+f1 complete (ids 0..39); v1/v2 DV updates skipped;
    # v2's new file f2 (ids 40..59) minus its born DV (odd ids)
    assert got == list(range(40)) + [i for i in range(40, 60) if i % 2 == 0]


def test_batch_format_read_with_time_travel_and_dvs(spark, tmp_path):
    import __spark_entry__ as entrymod

    register_stream_source(spark)
    root = entrymod._dv_fixture_root()
    r = DeltaLakeReader(spark, root)
    for v in (0, 1, 2):
        via_format = sorted(
            x["id"] for x in spark.read.format("standard_delta")
            .option("path", root).option("versionAsOf", str(v))
            .load().collect())
        via_reader = sorted(x["id"] for x in r.read(version=v).collect())
        assert via_format == via_reader, v
    latest = sorted(x["id"] for x in spark.read.format("standard_delta")
                    .option("path", root).load().collect())
    assert latest == sorted(x["id"] for x in r.read().collect())


@pytest.mark.skipif(_ref_delta_absent() is not None,
                    reason=str(_ref_delta_absent()))
def test_stream_reference_table_with_ignore_changes(spark, tmp_path):
    """The reference's delta-spark-committed customers table (WRITE at
    v0, MERGE at v1) streams end-to-end; row count equals the sum of
    numRecords over every dataChange add in the log (MERGE rewrites
    land as new paths, re-emitted — delta's documented ignoreChanges
    semantics)."""
    register_stream_source(spark)
    root = f"{REF}/customers"
    expected = 0
    log = os.path.join(root, "_delta_log")
    for name in sorted(os.listdir(log)):
        if not (name.endswith(".json") and name[:-5].isdigit()):
            continue
        for line in open(os.path.join(log, name)):
            a = json.loads(line)
            if "add" in a and a["add"].get("dataChange", True):
                expected += json.loads(
                    a["add"].get("stats", "{}")).get("numRecords", 0)
    out = _run(spark, root, str(tmp_path / "out"), str(tmp_path / "ckpt"),
               ignore_changes=True)
    assert out.count() == expected
    # schema came through the protocol replay (incl. cdc metadata cols)
    assert "email" in out.columns and "__cdc_operation" in out.columns


def _fully_deleted_fixture(root: str) -> str:
    """A standard Delta table whose vectors delete whole files: v0 adds
    file ``a`` (ids 0..4) and file ``b`` (ids 10..12) BORN with a vector
    over every row; v1 gives ``a`` a vector over every row too."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from deltalake_poc_spark.tables import roaring

    ids = {"a.parquet": range(5), "b.parquet": range(10, 13)}
    os.makedirs(os.path.join(root, "_delta_log"))
    for name, rows in ids.items():
        pq.write_table(pa.table({"id": pa.array(list(rows), pa.int64())}),
                       os.path.join(root, name))
    full = {n: roaring.inline_descriptor(list(range(len(r))))
            for n, r in ids.items()}

    def add(name, dv=None):
        a = {"path": name, "partitionValues": {}, "size": 1,
             "modificationTime": 1700000000000, "dataChange": True}
        return {"add": {**a, "deletionVector": dv} if dv else a}

    schema = json.dumps({"type": "struct", "fields": [
        {"name": "id", "type": "long", "nullable": True, "metadata": {}}]})
    commits = [
        [{"protocol": {"minReaderVersion": 3, "minWriterVersion": 7,
                       "readerFeatures": ["deletionVectors"],
                       "writerFeatures": ["deletionVectors"]}},
         {"metaData": {"id": "full-dv", "format": {"provider": "parquet",
                                                   "options": {}},
                       "schemaString": schema, "partitionColumns": [],
                       "configuration": {}}},
         add("a.parquet"), add("b.parquet", full["b.parquet"])],
        [{"remove": {"path": "a.parquet", "dataChange": True,
                     "deletionTimestamp": 1700000001000}},
         add("a.parquet", full["a.parquet"])],
    ]
    for v, actions in enumerate(commits):
        with open(os.path.join(root, "_delta_log", f"{v:020d}.json"),
                  "w") as fh:
            fh.writelines(json.dumps(a) + "\n" for a in actions)
    return root


def test_fully_deleted_files_read_as_empty(spark, tmp_path):
    """A vector over every row of a file leaves no live row to read:
    batch time travel and a stream over a file born with such a vector
    both skip the file instead of failing on it."""
    register_stream_source(spark)
    root = _fully_deleted_fixture(str(tmp_path / "delta"))

    def ids(version):
        return sorted(r["id"] for r in spark.read.format("standard_delta")
                      .option("path", root)
                      .option("versionAsOf", str(version)).load().collect())

    assert ids(0) == [0, 1, 2, 3, 4]
    assert ids(1) == []
    out = _run(spark, root, str(tmp_path / "out"), str(tmp_path / "ckpt"),
               ignore_changes=True)
    assert sorted(r["id"] for r in out.collect()) == [0, 1, 2, 3, 4]
