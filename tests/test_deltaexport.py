"""Standard-Delta-protocol WRITE interop: export a ``VersionedTable``
(private log) to a protocol-compliant ``_delta_log`` and verify the
result with the independent ``DeltaLakeReader`` log replayer — every
version, time travel, history, CDF, partitioning, column mapping.

The reader was itself validated against delta-spark-written fixtures
(/root/reference/deltalake/*, tests/test_deltareader.py), so
export -> replay closes the loop without the delta-spark package
(unavailable in this env; DuckDB's delta extension needs a download).
Re-checked round 6 (2026-08-15): `INSTALL delta` still fails with a
download error and `import deltalake` still unresolvable — the
foreign-client read remains environment-blocked, not a code gap.
"""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from deltalake_poc_spark.tables import VersionedTable
from deltalake_poc_spark.tables.deltaexport import export_standard_delta
from deltalake_poc_spark.tables.deltareader import DeltaLakeReader


def _mk(spark, root, cdf=True, partition_by=None):
    schema = spark.createDataFrame(
        [], "id long, name string, amount double").schema
    props = {"enableChangeDataFeed": "true"} if cdf else {}
    t = VersionedTable.create(spark, root, schema, properties=props,
                              partition_by=partition_by)
    t.write(spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)], schema),
        stats_cols=["id"])
    return t, schema


def _rows(df):
    return sorted(tuple(r) for r in df.select("id", "name", "amount").collect())


def test_roundtrip_every_version(spark, tmp_path):
    """write -> merge(update+insert) -> delete, exported commit-for-
    commit: the standard reader sees identical rows at EVERY version."""
    t, schema = _mk(spark, str(tmp_path / "src"))
    (t.merge(spark.createDataFrame([(2, "B", 22.0), (4, "d", 40.0)], schema),
             on="id")
     .when_matched_update_all().when_not_matched_insert_all().execute())
    t.delete("id = 1")

    dest = str(tmp_path / "out")
    assert export_standard_delta(t, dest) == t.version()
    r = DeltaLakeReader(spark, dest)
    assert r.versions() == list(range(t.version() + 1))
    for v in range(t.version() + 1):
        assert _rows(r.read(version=v)) == _rows(t.read(version=v)), v
    # history operations preserved, newest first
    ops = [h["operation"] for h in r.history()]
    assert ops == [h["operation"] for h in t.history()]
    assert ops[0] == "DELETE" and ops[-1] == "CREATE TABLE"
    # timestamp travel agrees between the two logs
    ts1 = t.log.read_commit(1).timestamp
    assert _rows(r.read(timestamp_ms=ts1)) == _rows(t.read(timestamp_ms=ts1))


def test_cdf_exported_as_cdc_actions(spark, tmp_path):
    """MERGE/DELETE change files become ``cdc`` actions; insert-only
    commits derive inserts from add actions — standard CDF semantics."""
    t, schema = _mk(spark, str(tmp_path / "src"))
    (t.merge(spark.createDataFrame([(2, "B", 22.0), (4, "d", 40.0)], schema),
             on="id")
     .when_matched_update_all().when_not_matched_insert_all().execute())
    t.delete("id = 3")

    dest = str(tmp_path / "out")
    export_standard_delta(t, dest)
    r = DeltaLakeReader(spark, dest)

    def changes(df):
        return sorted((r_["_commit_version"], r_["_change_type"], r_["id"])
                      for r_ in df.select(
                          "_commit_version", "_change_type", "id").collect())

    assert changes(r.read_change_feed(0)) == changes(t.read_change_feed(0))
    # protocol floor raised for CDF (writer 4)
    first = [json.loads(line) for line in
             open(os.path.join(dest, "_delta_log", f"{0:020d}.json"))]
    proto = next(a["protocol"] for a in first if "protocol" in a)
    assert proto["minWriterVersion"] >= 4


def test_partitioned_export(spark, tmp_path):
    schema = spark.createDataFrame([], "id long, bucket int, v string").schema
    t = VersionedTable.create(spark, str(tmp_path / "src"), schema,
                              partition_by=["bucket"])
    t.write(spark.createDataFrame(
        [(1, 10, "a"), (2, 10, "b"), (3, 20, "c")], schema))

    dest = str(tmp_path / "out")
    export_standard_delta(t, dest)
    r = DeltaLakeReader(spark, dest)
    snap = r.snapshot()
    assert snap.partition_columns == ["bucket"]
    assert all(set(pv) == {"bucket"} for pv in snap.files.values())
    df = r.read()
    assert dict(df.dtypes)["bucket"] == "int"
    assert sorted((x["id"], x["bucket"]) for x in df.collect()) == [
        (1, 10), (2, 10), (3, 20)]


def test_column_mapping_translated(spark, tmp_path):
    """rename_column -> delta.columnMapping.* metadata: current read
    uses new logical names, time travel shows pre-rename names, and
    the protocol floor is (2, 5) from the rename commit on."""
    t, schema = _mk(spark, str(tmp_path / "src"), cdf=False)
    v_before = t.version()
    t.rename_column("name", "label")
    t.write(spark.createDataFrame(
        [(4, "d", 40.0)],
        spark.createDataFrame([], "id long, label string, amount double")
        .schema), stats_cols=["id"])

    dest = str(tmp_path / "out")
    export_standard_delta(t, dest)
    r = DeltaLakeReader(spark, dest)
    assert r.snapshot().column_mapping_mode == "name"
    cur = r.read()
    assert "label" in cur.columns and "name" not in cur.columns
    assert sorted(x["label"] for x in cur.collect()) == ["a", "b", "c", "d"]
    old = r.read(version=v_before)
    assert "name" in old.columns and "label" not in old.columns
    # ids assigned and maxColumnId recorded (required by the protocol)
    snap = r.snapshot()
    ids = [f.metadata["delta.columnMapping.id"] for f in snap.schema.fields]
    assert sorted(ids) == ids and len(set(ids)) == len(ids)
    assert int(snap.configuration["delta.columnMapping.maxColumnId"]) >= max(ids)
    assert (r.snapshot().min_reader_version, 5) == (2, 5)


def test_optimize_exported_without_datachange(spark, tmp_path):
    """OPTIMIZE rewrites files without changing content: exported adds
    carry dataChange=false so standard CDF readers skip them."""
    t, schema = _mk(spark, str(tmp_path / "src"))
    t.write(spark.createDataFrame([(4, "d", 40.0)], schema),
            stats_cols=["id"])
    t.optimize(target_file_rows=1000)

    dest = str(tmp_path / "out")
    export_standard_delta(t, dest)
    opt_v = t.version()
    acts = [json.loads(line) for line in
            open(os.path.join(dest, "_delta_log", f"{opt_v:020d}.json"))]
    adds = [a["add"] for a in acts if "add" in a]
    assert adds and all(a["dataChange"] is False for a in adds)
    r = DeltaLakeReader(spark, dest)
    # CDF across the whole history must NOT count compaction as inserts
    inserts = (r.read_change_feed(0)
               .filter(F.col("_change_type") == "insert").count())
    assert inserts == (t.read_change_feed(0)
                       .filter(F.col("_change_type") == "insert").count())
    assert _rows(r.read()) == _rows(t.read())


def test_stats_and_properties_shape(spark, tmp_path):
    t, _ = _mk(spark, str(tmp_path / "src"))
    dest = str(tmp_path / "out")
    export_standard_delta(t, dest)
    acts = []
    for line in open(os.path.join(dest, "_delta_log", f"{1:020d}.json")):
        acts.append(json.loads(line))
    assert "commitInfo" in acts[0]  # commitInfo leads each commit
    adds = [a["add"] for a in acts if "add" in a]
    stats = [json.loads(a["stats"]) for a in adds]
    assert sum(s["numRecords"] for s in stats) == 3
    assert min(s["minValues"]["id"] for s in stats) == 1
    assert max(s["maxValues"]["id"] for s in stats) == 3
    assert all(a["size"] > 0 for a in adds)
    meta = next(a["metaData"] for a in
                (json.loads(line) for line in
                 open(os.path.join(dest, "_delta_log", f"{0:020d}.json")))
                if "metaData" in a)
    conf = meta["configuration"]
    assert conf.get("delta.enableChangeDataFeed") == "true"
    assert "partitionColumns" not in conf  # private layout prop stripped
    assert "enableChangeDataFeed" not in conf  # renamed, not duplicated


def test_checkpoint_written_and_replayed(spark, tmp_path):
    """checkpoint=True: classic checkpoint parquet + _last_checkpoint
    at the final version; the reader must produce the same snapshot
    from the checkpoint alone (JSON prefix deleted) as from the full
    log, proving the checkpoint carries complete state."""
    t, schema = _mk(spark, str(tmp_path / "src"))
    (t.merge(spark.createDataFrame([(2, "B", 22.0), (4, "d", 40.0)], schema),
             on="id")
     .when_matched_update_all().when_not_matched_insert_all().execute())
    t.delete("id = 1")

    dest = str(tmp_path / "out")
    export_standard_delta(t, dest, checkpoint=True)
    log_dir = os.path.join(dest, "_delta_log")
    last = t.version()
    assert os.path.exists(
        os.path.join(log_dir, f"{last:020d}.checkpoint.parquet"))
    ck = json.load(open(os.path.join(log_dir, "_last_checkpoint")))
    assert ck["version"] == last

    full = _rows(DeltaLakeReader(spark, dest).read())
    # drop every JSON commit at or before the checkpoint: replay must
    # come entirely from the checkpoint parquet
    for v in range(last + 1):
        os.remove(os.path.join(log_dir, f"{v:020d}.json"))
    from_ck = DeltaLakeReader(spark, dest)
    assert from_ck.latest_version() == last
    assert _rows(from_ck.read()) == full == _rows(t.read())
    # partitionValues/configuration survive the map<string,string>
    # typing round-trip
    snap = from_ck.snapshot()
    assert snap.configuration.get("delta.enableChangeDataFeed") == "true"


def test_change_feed_raises_on_a_gap_in_its_range(spark, tmp_path):
    """A change feed whose range reaches a vacuumed commit raises
    instead of silently dropping that commit's changes: here the
    deletes of v1..v4 would vanish from read_change_feed(1). A range
    that starts at the checkpoint still reads."""
    t, schema = _mk(spark, str(tmp_path / "src"))
    t.write(spark.createDataFrame([(4, "d", 40.0)], schema))
    t.delete("id = 1")
    t.write(spark.createDataFrame([(5, "e", 50.0)], schema))
    t.delete("id = 2")  # v5 carries cdc actions
    assert t.version() == 5
    dest = str(tmp_path / "out")
    export_standard_delta(t, dest, checkpoint=True)
    for i in range(3):
        t.write(spark.createDataFrame([(100 + i, "y", 2.0)], schema))
    assert export_standard_delta(t, dest, incremental=True) == 8
    log_dir = os.path.join(dest, "_delta_log")
    for v in range(5):
        os.remove(os.path.join(log_dir, f"{v:020d}.json"))
    r = DeltaLakeReader(spark, dest)
    with pytest.raises(FileNotFoundError, match="missing Delta log version 1"):
        r.read_change_feed(1)
    assert sorted(x["_commit_version"] for x in r.read_change_feed(5)
                  .select("_commit_version").distinct().collect()) \
        == [5, 6, 7, 8]


def test_partitioned_change_feed_keeps_partition_columns(spark, tmp_path):
    """The export writes a partitioned table's change files under their
    k=v paths with their values in the cdc action, as the protocol
    reads them: the change feed takes the partition column from the
    action, so change-file commits keep it and union with derived
    ones."""
    t, _ = _mk(spark, str(tmp_path / "src"), partition_by=["name"])
    t.delete("id = 1")
    dest = str(tmp_path / "out")
    export_standard_delta(t, dest)
    cdc = [a["cdc"] for a in DeltaLakeReader(spark, dest).commit(
        t.version()).actions if "cdc" in a]
    assert cdc and all(a["partitionValues"] == {"name": "a"}
                       and "/name=a/" in a["path"] for a in cdc)
    feed = DeltaLakeReader(spark, dest).read_change_feed(0)
    got = sorted((x.id, x.name, x._change_type, x._commit_version)
                 for x in feed.select("id", "name", "_change_type",
                                      "_commit_version").collect())
    v = t.version()
    assert got == [(1, "a", "delete", v), (1, "a", "insert", v - 1),
                   (2, "b", "insert", v - 1), (3, "c", "insert", v - 1)]


def test_cdc_action_without_partition_values_raises(spark, tmp_path):
    """A partitioned table's cdc action that names no partition value is
    malformed outside input: the change feed raises instead of reading
    the column as null or guessing it."""
    t, _ = _mk(spark, str(tmp_path / "src"), partition_by=["name"])
    t.delete("id = 1")
    dest = str(tmp_path / "out")
    export_standard_delta(t, dest)
    path = os.path.join(dest, "_delta_log", f"{t.version():020d}.json")
    with open(path) as fh:
        actions = [json.loads(line) for line in fh]
    for a in actions:
        if "cdc" in a:
            a["cdc"]["partitionValues"] = {}
    with open(path, "w") as fh:
        fh.write("\n".join(json.dumps(a) for a in actions) + "\n")
    with pytest.raises(ValueError, match="no partition value for"):
        DeltaLakeReader(spark, dest).read_change_feed(t.version())


def test_incremental_sync_matches_full_export(spark, tmp_path):
    """export -> source advances (merge + delete) -> incremental sync:
    the mirror must equal a fresh full export at every version (same
    table id, same snapshots, same CDF), with only the NEW commit
    files written by the sync."""
    t, schema = _mk(spark, str(tmp_path / "src"))
    dest = str(tmp_path / "mirror")
    export_standard_delta(t, dest)
    v_first = t.version()

    (t.merge(spark.createDataFrame([(2, "B", 22.0), (4, "d", 40.0)], schema),
             on="id")
     .when_matched_update_all().when_not_matched_insert_all().execute())
    t.delete("id = 3")

    # plain re-export refuses; incremental syncs the two new commits
    with pytest.raises(FileExistsError):
        export_standard_delta(t, dest)
    before = set(os.listdir(os.path.join(dest, "_delta_log")))
    assert export_standard_delta(t, dest, incremental=True,
                                 checkpoint=True) == t.version()
    added = set(os.listdir(os.path.join(dest, "_delta_log"))) - before
    assert {f"{v:020d}.json" for v in range(v_first + 1, t.version() + 1)} \
        <= added
    assert f"{v_first:020d}.json" not in added  # old commits untouched

    full = str(tmp_path / "full")
    export_standard_delta(t, full)
    rm, rf = DeltaLakeReader(spark, dest), DeltaLakeReader(spark, full)
    for v in range(t.version() + 1):
        assert _rows(rm.read(version=v)) == _rows(rf.read(version=v)), v
    # table identity is stable across syncs
    meta_ids = set()
    for v in rm.versions():
        for a in rm.commit(v).actions:
            if "metaData" in a:
                meta_ids.add(a["metaData"]["id"])
    assert len(meta_ids) == 1
    # CDF equal too (merge + delete change files came over in the sync)
    def chg(r):
        return sorted((x["_commit_version"], x["_change_type"], x["id"])
                      for x in r.read_change_feed(0).select(
                          "_commit_version", "_change_type", "id").collect())
    assert chg(rm) == chg(rf)
    # idempotent: syncing again writes nothing
    snap_files = set(os.listdir(os.path.join(dest, "_delta_log")))
    export_standard_delta(t, dest, incremental=True)
    assert set(os.listdir(os.path.join(dest, "_delta_log"))) == snap_files


def test_incremental_sync_refuses_ahead_destination(spark, tmp_path):
    t, _ = _mk(spark, str(tmp_path / "a"), cdf=False)
    t2, _ = _mk(spark, str(tmp_path / "b"), cdf=False)
    t2.delete("id = 1")  # b is at a later version than a
    dest = str(tmp_path / "mirror")
    export_standard_delta(t2, dest)
    with pytest.raises(ValueError, match="ahead of the source"):
        export_standard_delta(t, dest, incremental=True)


def test_hardlink_zero_copy_and_existing_dest_refused(spark, tmp_path):
    t, _ = _mk(spark, str(tmp_path / "src"), cdf=False)
    dest = str(tmp_path / "out")
    export_standard_delta(t, dest)
    # same filesystem: data files are hard links, not copies
    rel = t.snapshot().files[0].path
    assert os.stat(os.path.join(t.log.root, rel)).st_nlink >= 2
    with pytest.raises(FileExistsError, match="already has a Delta log"):
        export_standard_delta(t, dest)


def _mk_dv(spark, root, cdf=False):
    """Engine table with deletion vectors enabled: append 2 files,
    DV-delete twice (second consolidates), so the export must emit
    remove(old DV) + add(new DV) pairs across commits."""
    schema = spark.createDataFrame(
        [], "id long, name string, amount double").schema
    props = {"enableDeletionVectors": "true"}
    if cdf:
        props["enableChangeDataFeed"] = "true"
    t = VersionedTable.create(spark, root, schema, properties=props)
    t.write(spark.createDataFrame(
        [(i, chr(97 + i), 10.0 * i) for i in range(6)], schema),
        stats_cols=["id"])
    t.write(spark.createDataFrame(
        [(i, chr(97 + i), 10.0 * i) for i in range(6, 12)], schema),
        stats_cols=["id"])
    t.delete("id IN (1, 7)")     # v3: DVs on both files
    t.delete("id = 2")           # v4: consolidated DV grows on file 0
    return t, schema


def test_deletion_vectors_exported_as_standard(spark, tmp_path):
    """Engine (file,pos) sidecar DVs become protocol roaring vectors:
    the independent replayer agrees with the engine at EVERY version,
    no data file was rewritten, and the protocol advertises the
    deletionVectors table feature."""
    t, _ = _mk_dv(spark, str(tmp_path / "src"))
    dest = str(tmp_path / "out")
    assert export_standard_delta(t, dest) == t.version()
    r = DeltaLakeReader(spark, dest)
    for v in range(t.version() + 1):
        assert _rows(r.read(version=v)) == _rows(t.read(version=v)), v
    assert sorted(x.id for x in r.read().collect()) == \
        [0, 3, 4, 5, 6, 8, 9, 10, 11]
    snap = r.snapshot()
    assert snap.min_reader_version == 3
    assert "deletionVectors" in snap.reader_features
    assert len(snap.dvs) == 2  # both files carry a vector at HEAD
    # stats on DV'd adds are marked non-tight
    for a in r.commit(4).actions:
        if "add" in a and a["add"].get("deletionVector"):
            assert json.loads(a["add"]["stats"])["tightBounds"] is False
    # data files were linked once, never rewritten
    for e in t.snapshot().files:
        assert os.stat(os.path.join(dest, e.path)).st_nlink >= 2


def test_dv_export_purge_clears_descriptors(spark, tmp_path):
    """purge_deletion_vectors rewrites files and drops vectors; the
    exported log must converge to a DV-free active set."""
    t, _ = _mk_dv(spark, str(tmp_path / "src"))
    t.purge_deletion_vectors()
    dest = str(tmp_path / "out")
    export_standard_delta(t, dest)
    r = DeltaLakeReader(spark, dest)
    assert not r.snapshot().dvs
    assert _rows(r.read()) == _rows(t.read())
    for v in range(t.version() + 1):
        assert _rows(r.read(version=v)) == _rows(t.read(version=v)), v


def test_dv_export_incremental_sync(spark, tmp_path):
    """Sync after new DV commits: dry replay recovers prior descriptors
    from the destination log, so the follow-up remove actions tombstone
    the exact (path, uniqueId) entries the first export published."""
    t, _ = _mk_dv(spark, str(tmp_path / "src"))
    dest = str(tmp_path / "mirror")
    export_standard_delta(t, dest)
    t.delete("id = 3")           # grows file-0 DV again
    t.delete("id >= 10")         # grows file-1 DV
    export_standard_delta(t, dest, incremental=True)
    full = str(tmp_path / "full")
    export_standard_delta(t, full)
    rm, rf = DeltaLakeReader(spark, dest), DeltaLakeReader(spark, full)
    for v in range(t.version() + 1):
        assert _rows(rm.read(version=v)) == _rows(rf.read(version=v)) \
            == _rows(t.read(version=v)), v
    assert sorted(x.id for x in rm.read().collect()) == [0, 4, 5, 6, 8, 9]


def test_dv_export_checkpoint(spark, tmp_path):
    """Checkpoint of a DV table carries feature lists + descriptors;
    replay from the checkpoint alone reproduces HEAD."""
    t, _ = _mk_dv(spark, str(tmp_path / "src"))
    dest = str(tmp_path / "out")
    export_standard_delta(t, dest, checkpoint=True)
    # force checkpoint-only replay
    for v in range(t.version() + 1):
        os.remove(os.path.join(dest, "_delta_log", f"{v:020d}.json"))
    r = DeltaLakeReader(spark, dest)
    assert _rows(r.read()) == _rows(t.read())
    assert "deletionVectors" in r.snapshot().reader_features


def test_dv_export_cdf_changes_preserved(spark, tmp_path):
    """DV deletes with CDF enabled stage change files; the export's cdc
    actions replay the same change feed through the standard reader."""
    t, _ = _mk_dv(spark, str(tmp_path / "src"), cdf=True)
    dest = str(tmp_path / "out")
    export_standard_delta(t, dest)
    r = DeltaLakeReader(spark, dest)
    ours = sorted((x["_commit_version"], x["_change_type"], x["id"])
                  for x in t.read_change_feed(0).select(
                      "_commit_version", "_change_type", "id").collect())
    theirs = sorted((x["_commit_version"], x["_change_type"], x["id"])
                    for x in r.read_change_feed(0).select(
                        "_commit_version", "_change_type", "id").collect())
    assert ours == theirs
