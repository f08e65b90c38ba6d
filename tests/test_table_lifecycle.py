"""Table lifecycle rules: what a crash before publish leaves behind,
what VACUUM keeps and reclaims, how the log numbers a commit, and the
column-type contract a write must meet.

Crash points (Delta Lake, VLDB 2020: atomicity comes from the log
publish alone): ``TableLog.write_commit`` raises a non-conflict error
once, after an operation staged its data files, change files or
deletion-vector sidecar. Readers, the change feed and the applied
batch ids must still show the prior version, a replayed batch must
commit exactly once, and ``vacuum(retention_hours=0)`` must reclaim
every staged orphan.
"""

from __future__ import annotations

import datetime
import os
import time
import uuid

import pytest
from pyspark.sql.types import (
    ArrayType, DataType, DateType, DecimalType, DoubleType, FloatType,
    IntegerType, LongType, StringType, StructField, StructType,
    TimestampNTZType, TimestampType,
)

from deltalake_poc_spark.tables import VersionedTable
from deltalake_poc_spark.tables.log import TableLog

SCHEMA = StructType([
    StructField("id", LongType()),
    StructField("v", StringType()),
])


def df_of(spark, *ids, tag="v"):
    return spark.createDataFrame([(i, f"{tag}{i}") for i in ids], SCHEMA)


def rows(df):
    return sorted(tuple(r) for r in df.collect())


def feed(t):
    return sorted((r["id"], r["v"], r["_change_type"], r["_commit_version"])
                  for r in t.read_change_feed(0).collect())


def artifacts(t) -> set[str]:
    """Rel paths of every data file and every DV, change and staging
    dir under the table root."""
    out = set()
    for top in (TableLog.DATA_DIR, "_dv", TableLog.CHANGES_DIR,
                TableLog.STAGING_DIR):
        base = t.log.abs_path(top)
        if not os.path.isdir(base):
            continue
        if top == TableLog.DATA_DIR:
            out |= {os.path.relpath(os.path.join(d, f), t.log.root)
                    for d, _, fs in os.walk(base) for f in fs}
        else:
            out |= {f"{top}/{name}" for name in os.listdir(base)}
    return out


def crash_next_publish(monkeypatch):
    """Make the next ``TableLog.write_commit`` raise once, as a process
    dying between staging and publish would."""
    real = TableLog.write_commit
    armed = [True]

    def write_commit(self, commit):
        if armed[0]:
            armed[0] = False
            raise OSError("injected crash before publish")
        return real(self, commit)

    monkeypatch.setattr(TableLog, "write_commit", write_commit)


def create(spark, root, **props):
    t = VersionedTable.create(spark, root, SCHEMA, properties={
        "enableChangeDataFeed": "true", **props})
    t.write(df_of(spark, 1, 2, 3, 4), "append")
    return t


def _crash_and_reclaim(monkeypatch, t, op, orphan_kinds):
    version, data = t.version(), rows(t.read())
    cdf, batches = feed(t), t.applied_batch_ids()
    before = artifacts(t)
    crash_next_publish(monkeypatch)
    with pytest.raises(OSError, match="injected crash"):
        op()
    orphans = artifacts(t) - before
    assert {p.split("/")[0] for p in orphans} == orphan_kinds, orphans
    fresh = VersionedTable.for_path(t.spark, t.log.root)
    for h in (t, fresh):
        assert h.version() == version
        assert rows(h.read()) == data
        assert feed(h) == cdf
        assert h.applied_batch_ids() == batches
    deleted = set(t.vacuum(retention_hours=0))
    assert orphans <= deleted
    assert not orphans & artifacts(t)
    assert rows(t.read()) == data


def test_crash_before_publish_cow_merge_with_cdf(spark, tmp_path, monkeypatch):
    t = create(spark, str(tmp_path / "cow"))
    src = df_of(spark, 2, 9, tag="new")
    merge = (lambda: t.merge(src, on="id").when_matched_update_all()
             .when_not_matched_insert_all().execute())
    _crash_and_reclaim(monkeypatch, t, merge, {"data", "_changes"})
    c = merge()  # the same MERGE re-run commits normally
    assert c.version == 2
    assert rows(t.read()) == [(1, "v1"), (2, "new2"), (3, "v3"), (4, "v4"),
                              (9, "new9")]


def test_crash_before_publish_dv_delete(spark, tmp_path, monkeypatch):
    t = create(spark, str(tmp_path / "dv"), enableDeletionVectors="true")
    t.delete("id = 4")  # a live vector the crashed delete consolidates
    _crash_and_reclaim(monkeypatch, t, lambda: t.delete("id = 1"),
                       {"_dv", "_changes"})
    assert t.snapshot().dvs  # the committed vector survived the sweep
    t.delete("id = 1")
    assert rows(t.read()) == [(2, "v2"), (3, "v3")]


def test_crash_before_publish_append_batch_replays_once(spark, tmp_path,
                                                        monkeypatch):
    t = create(spark, str(tmp_path / "ab"))
    batch = df_of(spark, 7, 8)
    _crash_and_reclaim(monkeypatch, t,
                       lambda: t.append_batch(batch, batch_id="b7"), {"data"})
    c = t.append_batch(batch, batch_id="b7")
    assert c is not None and c.version == 2
    assert t.append_batch(batch, batch_id="b7") is None
    stamped = [x.version for x in t.log.commits()
               if x.operation_parameters.get("batchId") == "b7"]
    assert stamped == [2]
    assert t.applied_batch_ids() == {"b7"}
    assert [r["id"] for r in t.read().collect()].count(7) == 1


# ---------------------------------------------------------------- VACUUM


def test_vacuum_keeps_only_the_latest_change_dir(spark, tmp_path):
    t = create(spark, str(tmp_path / "cd"))
    m = (t.merge(df_of(spark, 1, tag="m"), on="id")
         .when_matched_update_all().execute())
    d = t.delete("id = 2")
    deleted = t.vacuum(retention_hours=0)
    assert m.change_dir in deleted
    assert d.change_dir not in deleted
    assert os.path.isdir(t.log.abs_path(d.change_dir))
    assert not os.path.exists(t.log.abs_path(m.change_dir))
    got = [(r["id"], r["_change_type"])
           for r in t.read_change_feed(d.version).collect()]
    assert got == [(2, "delete")]


def test_vacuum_keeps_what_restore_references_again(spark, tmp_path):
    t = create(spark, str(tmp_path / "rs"), enableDeletionVectors="true")
    d = t.delete("id = 1")                                  # v2: a vector
    (dv_dir,) = set(t.snapshot().dvs.values())
    files = set(t.snapshot().file_paths)
    t.write(df_of(spark, 8), "overwrite")                   # v3: both released
    r = t.restore(d.version)                                # v4: both back
    deleted = t.vacuum(retention_hours=0)
    assert not (files | {dv_dir}) & set(deleted)
    assert {dv_dir} | files <= artifacts(t)
    want = [(2, "v2"), (3, "v3"), (4, "v4")]
    assert rows(t.read()) == want
    assert rows(t.read(version=r.version)) == want
    assert rows(t.read(version=d.version)) == want


def test_vacuum_ages_unreferenced_entries_by_mtime(spark, tmp_path):
    t = create(spark, str(tmp_path / "mt"))
    stray = {
        f"{TableLog.DATA_DIR}/{uuid.uuid4().hex}.parquet": False,
        f"{TableLog.CHANGES_DIR}/{uuid.uuid4().hex}": True,
        f"_dv/{uuid.uuid4().hex}": True,
    }
    for rel, is_dir in stray.items():
        p = t.log.abs_path(rel)
        if is_dir:
            os.makedirs(p)
            p = os.path.join(p, "part-0.parquet")
        os.makedirs(os.path.dirname(p), exist_ok=True)
        with open(p, "wb") as fh:
            fh.write(b"x")
    assert t.vacuum(retention_hours=1) == []
    assert set(stray) <= artifacts(t)
    old = time.time() - 2 * 3600
    for rel in stray:
        os.utime(t.log.abs_path(rel), (old, old))
    assert sorted(t.vacuum(retention_hours=1)) == sorted(stray)
    assert rows(t.read()) == [(i, f"v{i}") for i in (1, 2, 3, 4)]


# ----------------------------------------------------- commit numbering


def test_noop_delete_rebases_past_a_property_change(spark, tmp_path,
                                                    monkeypatch):
    """A DELETE that matches nothing adds, removes and changes nothing:
    a rival commit between its planning and its publish, even a
    property change, cannot invalidate it."""
    t = create(spark, str(tmp_path / "np"))
    real = TableLog.write_commit
    raced = []

    def write_commit(self, commit):
        if commit.operation == "DELETE" and not raced:
            raced.append(True)
            VersionedTable.for_path(spark, t.log.root).set_properties(
                {"owner": "rival"})
        return real(self, commit)

    monkeypatch.setattr(TableLog, "write_commit", write_commit)
    c = t.delete("id = 999")
    assert raced
    assert c.version == t.version() == 3
    assert c.metrics == dict.fromkeys(
        ["numDeletedRows", "numCopiedRows", "numRemovedFiles",
         "numAddedFiles"], 0)
    assert [x.operation for x in t.log.commits()] == [
        "CREATE TABLE", "APPEND", "SET TBLPROPERTIES", "DELETE"]
    assert t.properties()["owner"] == "rival"


# -------------------------------------------------- schema at commit


@pytest.mark.parametrize("table_type, frame_type, value", [
    (LongType(), StringType(), "7"),
    (IntegerType(), LongType(), 7),
])
def test_write_rejects_a_conflicting_column_type(spark, tmp_path,
                                                 table_type, frame_type,
                                                 value):
    schema = StructType([StructField("id", LongType()),
                         StructField("n", table_type)])
    t = VersionedTable.create(spark, str(tmp_path / "ty"), schema)
    t.write(spark.createDataFrame([(1, 1)], schema), "append")
    before = artifacts(t)
    bad = spark.createDataFrame([(2, value)], StructType([
        StructField("id", LongType()), StructField("n", frame_type)]))
    with pytest.raises(TypeError) as e:
        t.write(bad, "append")
    msg = str(e.value)
    assert "'n'" in msg
    assert frame_type.simpleString() in msg
    assert table_type.simpleString() in msg
    assert t.version() == 1 and artifacts(t) == before
    assert [(r["id"], r["n"]) for r in t.read().collect()] == [(1, 1)]


@pytest.mark.parametrize("table_type, frame_type, value, decodes", [
    (StringType(), LongType(), 7, False),
    (TimestampType(), DateType(), datetime.date(2024, 1, 2), False),
    (ArrayType(TimestampType()), ArrayType(DateType()),
     [datetime.date(2024, 1, 2)], False),
    (DoubleType(), IntegerType(), 7, True),
    (DoubleType(), FloatType(), 7.5, True),
    (DecimalType(12, 2), IntegerType(), 7, True),
    (TimestampType(), TimestampNTZType(), datetime.datetime(2024, 1, 2, 3),
     True),
], ids=lambda x: x.simpleString() if isinstance(x, DataType) else None)
def test_write_admits_only_types_the_read_decodes(spark, tmp_path,
                                                  table_type, frame_type,
                                                  value, decodes):
    """A column written with another type than its declared one commits
    only when the declared-schema read decodes it (and then reads
    back); otherwise the write raises before staging anything."""
    t = VersionedTable.create(spark, str(tmp_path / "ty"), StructType([
        StructField("n", table_type)]))
    frame = spark.createDataFrame([(value,)], StructType([
        StructField("n", frame_type)]))
    if decodes:
        t.write(frame, "append")
        assert t.read().collect() == frame.select(
            frame["n"].cast(table_type).alias("n")).collect()
    else:
        with pytest.raises(TypeError) as e:
            t.write(frame, "append")
        assert frame_type.simpleString() in str(e.value)
        assert t.version() == 0 and artifacts(t) == set()


def test_write_widens_int_into_long(spark, tmp_path):
    t = VersionedTable.create(spark, str(tmp_path / "wi"), SCHEMA)
    narrow = StructType([StructField("id", IntegerType()),
                         StructField("v", StringType())])
    t.write(spark.createDataFrame([(5, "a")], narrow), "append")
    t.write(df_of(spark, 6), "append")
    assert rows(t.read()) == [(5, "a"), (6, "v6")]
    assert t.schema() == SCHEMA
