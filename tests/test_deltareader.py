"""Standard-Delta-protocol read interop, verified against the
REFERENCE'S OWN committed Delta tables (written by delta-spark:
/root/reference/deltalake/*) plus synthesized logs covering the paths
the fixtures don't exercise (partitioned tables, single- and
multi-part checkpoints, column mapping, deletion vectors with every
storage format, roaring/Z85 codec properties)."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from __spark_entry__ import _REF_DELTA as REF
from __spark_entry__ import _ref_delta_absent
from deltalake_poc_spark.tables import roaring
from deltalake_poc_spark.tables.deltareader import DeltaLakeReader

# only the tests that read the reference tables need them; the rest
# synthesize their own logs
needs_ref = pytest.mark.skipif(_ref_delta_absent() is not None,
                               reason=str(_ref_delta_absent()))


def _log_stats_rows(table: str, version: int) -> int:
    """Sum of numRecords over the ACTIVE file set at a version,
    replayed independently of the reader under test."""
    files: dict[str, int] = {}
    for v in range(version + 1):
        p = f"{REF}/{table}/_delta_log/{v:020d}.json"
        for line in open(p):
            a = json.loads(line)
            if "add" in a:
                files[a["add"]["path"]] = json.loads(
                    a["add"].get("stats", "{}")).get("numRecords", 0)
            elif "remove" in a:
                files.pop(a["remove"]["path"], None)
    return sum(files.values())


@needs_ref
def test_reads_all_reference_tables(spark):
    for table in ("customers", "orders", "products", "order_items",
                  "cdc_events"):
        r = DeltaLakeReader(spark, f"{REF}/{table}")
        snap = r.snapshot()
        df = r.read()
        assert df.count() == _log_stats_rows(table, snap.version), table
        assert [f.name for f in df.schema.fields] == \
            [f.name for f in snap.schema.fields], table


@needs_ref
def test_customers_schema_matches_log(spark):
    r = DeltaLakeReader(spark, f"{REF}/customers")
    names = [f.name for f in r.snapshot().schema.fields]
    assert names == ["id", "first_name", "last_name", "email", "phone",
                     "created_at", "updated_at", "__cdc_operation",
                     "__cdc_timestamp", "__processed_at"]


@needs_ref
def test_time_travel_versions_agree_with_log(spark):
    """customers has v0 (WRITE) and v1 (MERGE that rewrote a file):
    each version's row count must match its log-declared active set,
    and v1 must reflect the MERGE's update."""
    r = DeltaLakeReader(spark, f"{REF}/customers")
    assert r.versions() == [0, 1]
    v0, v1 = r.read(version=0), r.read(version=1)
    assert v0.count() == _log_stats_rows("customers", 0)
    assert v1.count() == _log_stats_rows("customers", 1)
    # the MERGE updated rows in place: same keys, some changed values
    k0 = sorted(x["id"] for x in v0.select("id").collect())
    k1 = sorted(x["id"] for x in v1.select("id").collect())
    assert k0 == k1
    assert v0.exceptAll(v1).count() > 0  # v1 differs from v0


@needs_ref
def test_timestamp_travel(spark):
    r = DeltaLakeReader(spark, f"{REF}/customers")
    t0 = r._commit_timestamp_ms(0)
    t1 = r._commit_timestamp_ms(1)
    assert r.snapshot(timestamp_ms=t0).version == 0
    assert r.snapshot(timestamp_ms=t1 + 1).version == 1
    with pytest.raises(ValueError, match="no commit"):
        r.snapshot(timestamp_ms=t0 - 1)


@needs_ref
def test_history_lists_operations(spark):
    h = DeltaLakeReader(spark, f"{REF}/customers").history()
    assert [c["version"] for c in h] == [1, 0]
    assert h[0]["operation"] == "MERGE"
    assert h[1]["operation"] == "WRITE"


@needs_ref
def test_change_feed_reads_reference_cdc_files(spark):
    """customers v1 is a MERGE with real _change_data files; v0 is a
    blind-append WRITE (inserts derived from added files)."""
    r = DeltaLakeReader(spark, f"{REF}/customers")
    cdf = r.read_change_feed(0)
    types = {x["_change_type"] for x in
             cdf.select("_change_type").distinct().collect()}
    assert "insert" in types
    assert {"update_preimage", "update_postimage"} <= types
    v0 = cdf.filter(F.col("_commit_version") == 0)
    assert v0.count() == _log_stats_rows("customers", 0)
    # pre/post images pair up per commit
    pre = cdf.filter(F.col("_change_type") == "update_preimage").count()
    post = cdf.filter(F.col("_change_type") == "update_postimage").count()
    assert pre == post > 0


# -------------------------- synthesized logs (paths fixtures lack) --------


def _write_delta_table(spark, root, rows, schema_fields, part_cols=(),
                       configuration=None, extra_commits=()):
    """Minimal standard-Delta writer for tests: parquet files + JSON log."""
    os.makedirs(os.path.join(root, "_delta_log"))
    df = spark.createDataFrame(rows, ", ".join(schema_fields))
    data_cols = [c for c in df.columns if c not in part_cols]
    actions = [
        {"commitInfo": {"timestamp": 1700000000000, "operation": "WRITE"}},
        {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
        {"metaData": {
            "id": "t", "format": {"provider": "parquet", "options": {}},
            "schemaString": df.schema.json(),
            "partitionColumns": list(part_cols),
            "configuration": configuration or {}}},
    ]
    if part_cols:
        groups = df.select(*part_cols).distinct().collect()
        for i, g in enumerate(groups):
            sub = df
            pv = {}
            for c in part_cols:
                sub = sub.filter(F.col(c) == g[c])
                pv[c] = str(g[c])
            pdir = "/".join(f"{c}={g[c]}" for c in part_cols)
            os.makedirs(os.path.join(root, pdir), exist_ok=True)
            path = f"{pdir}/part-{i:05d}.parquet"
            sub.select(*data_cols).toPandas().to_parquet(
                os.path.join(root, path))
            actions.append({"add": {"path": path, "partitionValues": pv,
                                    "size": 1, "modificationTime": 0,
                                    "dataChange": True}})
    else:
        path = "part-00000.parquet"
        df.toPandas().to_parquet(os.path.join(root, path))
        actions.append({"add": {"path": path, "partitionValues": {},
                                "size": 1, "modificationTime": 0,
                                "dataChange": True}})
    with open(os.path.join(root, "_delta_log",
                           f"{0:020d}.json"), "w") as f:
        f.write("\n".join(json.dumps(a) for a in actions) + "\n")
    for v, acts in enumerate(extra_commits, start=1):
        with open(os.path.join(root, "_delta_log",
                               f"{v:020d}.json"), "w") as f:
            f.write("\n".join(json.dumps(a) for a in acts) + "\n")
    return df


def test_partitioned_delta_table_typed_values(spark, tmp_path):
    root = str(tmp_path / "pt")
    _write_delta_table(
        spark, root,
        [(1, 10, "a"), (2, 10, "b"), (3, 20, "c")],
        ["id long", "bucket int", "v string"], part_cols=("bucket",))
    df = DeltaLakeReader(spark, root).read()
    assert dict(df.dtypes)["bucket"] == "int"
    assert sorted((r["id"], r["bucket"]) for r in df.collect()) == [
        (1, 10), (2, 10), (3, 20)]


def test_remove_actions_and_missing_version(spark, tmp_path):
    root = str(tmp_path / "rm")
    _write_delta_table(
        spark, root, [(1, "a"), (2, "b")], ["id long", "v string"],
        extra_commits=[[
            {"commitInfo": {"timestamp": 1700000100000, "operation": "DELETE"}},
            {"remove": {"path": "part-00000.parquet", "dataChange": True}},
        ]])
    r = DeltaLakeReader(spark, root)
    assert r.read(version=0).count() == 2
    assert r.read(version=1).count() == 0
    with pytest.raises(FileNotFoundError, match="missing Delta log"):
        # simulate a vacuumed log: drop v0, ask for full replay
        os.rename(os.path.join(root, "_delta_log", f"{0:020d}.json"),
                  os.path.join(root, "_delta_log", "gone"))
        r.snapshot(version=1)


def test_checkpoint_replay(spark, tmp_path):
    """_last_checkpoint + checkpoint parquet replaces the JSON prefix;
    later JSON deltas still apply on top."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    root = str(tmp_path / "ck")
    df = _write_delta_table(spark, root, [(1, "a"), (2, "b")],
                            ["id long", "v string"])
    # v1 adds a second file via JSON
    df.limit(1).toPandas().to_parquet(os.path.join(root, "part-00001.parquet"))
    with open(os.path.join(root, "_delta_log", f"{1:020d}.json"), "w") as f:
        f.write(json.dumps({"add": {"path": "part-00001.parquet",
                                    "partitionValues": {}, "size": 1,
                                    "modificationTime": 0,
                                    "dataChange": True}}) + "\n")
    # checkpoint at v0 (metaData + protocol + the v0 add), then drop v0 JSON
    # non-empty maps: pyarrow refuses to write childless structs, and
    # real checkpoints type these as map<string,string> anyway
    ck_rows = [
        {"metaData": {"id": "t", "format": {"provider": "parquet",
                                            "options": {"o": "1"}},
                      "schemaString": df.schema.json(),
                      "partitionColumns": [],
                      "configuration": {"delta.enableChangeDataFeed":
                                        "false"}},
         "protocol": None, "add": None, "remove": None},
        {"metaData": None,
         "protocol": {"minReaderVersion": 1, "minWriterVersion": 2},
         "add": None, "remove": None},
        {"metaData": None, "protocol": None,
         "add": {"path": "part-00000.parquet", "partitionValues": None,
                 "size": 1, "modificationTime": 0, "dataChange": True},
         "remove": None},
    ]
    pq.write_table(pa.Table.from_pylist(ck_rows),
                   os.path.join(root, "_delta_log",
                                f"{0:020d}.checkpoint.parquet"))
    with open(os.path.join(root, "_delta_log", "_last_checkpoint"), "w") as f:
        json.dump({"version": 0, "size": 3}, f)
    os.remove(os.path.join(root, "_delta_log", f"{0:020d}.json"))

    r = DeltaLakeReader(spark, root)
    assert r.read(version=1).count() == 3  # 2 from checkpoint add + 1 delta


def test_roaring_roundtrip():
    """Portable RoaringBitmapArray (de)serialization round-trips for
    every container regime: array (<=4096/chunk), bitmap (>4096), and
    64-bit multi-key sets."""
    import random

    from deltalake_poc_spark.tables import roaring

    rng = random.Random(7)
    cases = [
        [],
        [0],
        [5, 7, 9],
        list(range(10_000)),                              # bitmap container
        sorted(rng.sample(range(1 << 20), 5000)),
        sorted(rng.sample(range(1 << 40), 300)),          # multi-key 64-bit
        [0, 1 << 32, (1 << 32) + 1, (3 << 32) + 17],
    ]
    for c in cases:
        assert roaring.deserialize_roaring_array(
            roaring.serialize_roaring_array(c)) == sorted(c)


def test_roaring_run_container_decode():
    """delta-spark may serialize RUN containers (cookie 12347); the
    writer here never emits them, so decode one built by hand."""
    import struct

    from deltalake_poc_spark.tables import roaring

    # one run container, key 0, values 10..14 -> cookie SERIAL_COOKIE
    # with (n-1)<<16, run flag bitset 0b1, header (key=0, card-1=4),
    # no offsets (n < 4), then nbRuns=1, (start=10, len-1=4)
    bitmap = (struct.pack("<I", 12347 | (0 << 16)) + bytes([0b1])
              + struct.pack("<HH", 0, 4)
              + struct.pack("<H", 1) + struct.pack("<HH", 10, 4))
    data = struct.pack("<iq", roaring.MAGIC_PORTABLE, 1) \
        + struct.pack("<i", 0) + bitmap
    assert roaring.deserialize_roaring_array(data) == [10, 11, 12, 13, 14]


def _dv_table(spark, root: str) -> None:
    """Standard readerVersion-3 DV table: ids 0..9 and 10..19 in two
    files; v1 DV-deletes {2,3} from file 0 via an on-disk ``u`` vector;
    v2 grows it to {2,3,5} inline and deletes {10} from file 1."""
    from deltalake_poc_spark.tables import roaring

    df = spark.createDataFrame(
        [(i, f"r{i}") for i in range(10)], "id long, v string")
    _write_delta_table(spark, root, [(i, f"r{i}") for i in range(10)],
                       ["id long", "v string"])
    df2 = spark.createDataFrame(
        [(i, f"r{i}") for i in range(10, 20)], "id long, v string")
    df2.toPandas().to_parquet(os.path.join(root, "part-00001.parquet"))
    log = os.path.join(root, "_delta_log")
    # upgrade protocol + second file at v1, with the first DV delete
    (dv0,) = roaring.write_dv_file(root, [[2, 3]])
    acts1 = [
        {"commitInfo": {"timestamp": 1700000001000, "operation": "DELETE"}},
        {"protocol": {"minReaderVersion": 3, "minWriterVersion": 7,
                      "readerFeatures": ["deletionVectors"],
                      "writerFeatures": ["deletionVectors"]}},
        {"add": {"path": "part-00001.parquet", "partitionValues": {},
                 "size": 1, "modificationTime": 0, "dataChange": True}},
        {"add": {"path": "part-00000.parquet", "partitionValues": {},
                 "size": 1, "modificationTime": 0, "dataChange": True,
                 "deletionVector": dv0}},
        {"remove": {"path": "part-00000.parquet", "dataChange": True}},
    ]
    dv0b = roaring.inline_descriptor([2, 3, 5])
    dv1 = roaring.inline_descriptor([0])
    acts2 = [
        {"commitInfo": {"timestamp": 1700000002000, "operation": "DELETE"}},
        # remove AFTER the add of the same path: reconciliation must key
        # by (path, DV uniqueId), not path, or this kills the new add
        {"add": {"path": "part-00000.parquet", "partitionValues": {},
                 "size": 1, "modificationTime": 0, "dataChange": True,
                 "deletionVector": dv0b}},
        {"remove": {"path": "part-00000.parquet", "dataChange": True,
                    "deletionVector": dv0}},
        {"add": {"path": "part-00001.parquet", "partitionValues": {},
                 "size": 1, "modificationTime": 0, "dataChange": True,
                 "deletionVector": dv1}},
        {"remove": {"path": "part-00001.parquet", "dataChange": True}},
    ]
    for v, acts in ((1, acts1), (2, acts2)):
        with open(os.path.join(log, f"{v:020d}.json"), "w") as f:
            f.write("\n".join(json.dumps(a) for a in acts) + "\n")


def test_deletion_vector_read_and_time_travel(spark, tmp_path):
    root = str(tmp_path / "dv")
    _dv_table(spark, root)
    r = DeltaLakeReader(spark, root)
    assert sorted(x.id for x in r.read().collect()) == \
        [0, 1, 4, 6, 7, 8, 9] + list(range(11, 20))
    assert sorted(x.id for x in r.read(version=1).collect()) == \
        [0, 1] + list(range(4, 20))
    assert sorted(x.id for x in r.read(version=0).collect()) == list(range(10))


def test_deletion_vector_distributed_decode_matches_driver(
        spark, tmp_path, monkeypatch):
    """Above the cardinality threshold the read decodes DV sidecars on
    the executors and applies them with a planner-chosen join; the
    visible rows must equal the driver-decoded broadcast path. The
    change feed's DV legs follow the same regime: none decodes a
    vector on the driver."""
    root = str(tmp_path / "dvdist")
    _dv_table(spark, root)
    r = DeltaLakeReader(spark, root)
    expected = sorted((x.id, x.v) for x in r.read().collect())
    r2 = DeltaLakeReader(spark, root)
    r2.dv_driver_positions_max = 0  # force the executor-decode regime
    got = sorted((x.id, x.v) for x in r2.read().collect())
    assert got == expected
    # time travel crosses the threshold branch too (u-storage sidecar)
    exp_v1 = sorted(x.id for x in r.read(version=1).collect())
    assert sorted(x.id for x in r2.read(version=1).collect()) == exp_v1

    def feed(reader):
        return sorted((x.id, x.v, x._change_type, x._commit_version)
                      for x in reader.read_change_feed(1).collect())

    exp_feed = feed(r)

    def driver_decode(*_args):
        raise AssertionError("deletion vector decoded on the driver")

    # the driver's module only: Python workers import their own copy
    monkeypatch.setattr(roaring, "read_descriptor", driver_decode)
    assert feed(r2) == exp_feed


def test_deletion_vector_legs_plan_broadcast_joins(spark, tmp_path):
    """Under the default regime the driver-decoded pair frames carry a
    broadcast hint on every leg: the snapshot read and the change
    feed's DV legs plan broadcast joins, never a SortMergeJoin that
    shuffles the data by (file, pos), on this module's DV table and on
    the delta_dv_read fixture."""
    import __spark_entry__ as entrymod

    root = str(tmp_path / "dvplan")
    _dv_table(spark, root)
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted")
    for r in (DeltaLakeReader(spark, root),
              DeltaLakeReader(spark, entrymod._dv_fixture_root())):
        for df in (r.read(), r.read_change_feed(1)):
            plan = df._jdf.queryExecution().explainString(mode)
            assert "BroadcastHashJoin" in plan, plan[:800]
            assert "SortMergeJoin" not in plan, plan[:800]


# (Spark jobs, parquet rows read) of read_change_feed(start) on the
# delta_dv_read fixture: each commit's data-change files are scanned
# once against one pair frame. The change feed of one leg per kind of
# change (born file, grown vector, restored vector, removed file), each
# leg with its own pair frames, measured 4 jobs / 100 rows from v2 and
# 5 jobs / 140 rows from v1, and 9 jobs for the delta_dv_read builder.
DV_FEED_COUNTERS = {2: (2, 60), 1: (3, 100)}
DV_BUILDER_JOBS = 7


def _jobs_and_rows_read(spark, group, run) -> tuple[int, int]:
    """Spark jobs and parquet rows read (stage ``inputRecords``) of
    ``run()`` under job group ``group``."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        run()
    finally:
        for k in ("spark.jobGroup.id", "spark.job.description"):
            sc.setLocalProperty(k, None)
    ids = list(sc.statusTracker().getJobIdsForGroup(group))
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()  # stage metrics arrive async
    read = 0
    for j in ids:
        for s in sc.statusTracker().getJobInfo(j).stageIds:
            attempts = jsc.statusStore().stageData(s, False, None, False, None)
            read += sum(attempts.apply(i).inputRecords()
                        for i in range(attempts.size()))
    return len(ids), read


def test_deletion_vector_fixture_counters(spark):
    import __spark_entry__ as entrymod

    root = entrymod._dv_fixture_root()
    for start, pinned in DV_FEED_COUNTERS.items():
        got = _jobs_and_rows_read(
            spark, f"dv-feed-{start}",
            lambda: DeltaLakeReader(spark, root).read_change_feed(
                start).collect())
        assert got == pinned, (start, got)
    jobs, _ = _jobs_and_rows_read(
        spark, "dv-builder",
        lambda: entrymod._delta_dv_read(spark, "").collect())
    assert jobs == DV_BUILDER_JOBS


def test_one_parse_per_commit(spark, tmp_path, monkeypatch):
    """A reader parses each _delta_log commit once: the change feed
    drives one replay forward instead of replaying the log per version,
    and time travel by timestamp reuses the commits it scanned for the
    timestamp."""
    from collections import Counter

    from pyspark.sql.types import LongType, StructField, StructType

    from deltalake_poc_spark.tables import VersionedTable
    from deltalake_poc_spark.tables import deltareader
    from deltalake_poc_spark.tables.deltaexport import export_standard_delta

    schema = StructType([StructField("id", LongType()),
                         StructField("v", LongType())])
    t = VersionedTable.create(spark, str(tmp_path / "src"), schema,
                              properties={"enableDeletionVectors": "true"})
    for i in range(18):
        t.write(spark.createDataFrame([(i, i), (100 + i, i)], schema))
    t.delete("id = 3")
    t.delete("id IN (4, 105)")
    dest = str(tmp_path / "exported")
    export_standard_delta(t, dest)
    log = os.path.join(dest, "_delta_log")
    commits = sorted(f for f in os.listdir(log) if f.endswith(".json"))
    assert len(commits) >= 21
    with open(os.path.join(log, commits[10])) as fh:
        ts = next(json.loads(line)["commitInfo"]["timestamp"]
                  for line in fh if "commitInfo" in line)

    opens: Counter = Counter()

    def counting_open(path, *args, **kwargs):
        if str(path).endswith(".json"):
            opens[os.path.basename(path)] += 1
        return open(path, *args, **kwargs)

    monkeypatch.setattr(deltareader, "open", counting_open, raising=False)
    feed = DeltaLakeReader(spark, dest).read_change_feed(1)
    assert set(opens) == set(commits) and max(opens.values()) == 1, opens
    assert feed.filter("_change_type = 'delete'").count() == 3
    opens.clear()
    assert DeltaLakeReader(spark, dest).snapshot(timestamp_ms=ts).version \
        == 10
    assert set(opens) == set(commits) and max(opens.values()) == 1, opens


def test_deletion_vector_cdf_derivation(spark, tmp_path):
    """Without cdc actions, CDF derives the per-version delta from DV
    growth: only NEWLY-deleted positions appear as deletes."""
    root = str(tmp_path / "dvc")
    _dv_table(spark, root)
    r = DeltaLakeReader(spark, root)
    rows = r.read_change_feed(1).collect()
    by: dict = {}
    for row in rows:
        by.setdefault((row._commit_version, row._change_type),
                      []).append(row.id)
    assert sorted(by[(1, "insert")]) == list(range(10, 20))  # new file at v1
    assert sorted(by[(1, "delete")]) == [2, 3]
    assert sorted(by[(2, "delete")]) == [5, 10]
    assert (2, "insert") not in by


def test_deletion_vector_checksum_verified(spark, tmp_path):
    from deltalake_poc_spark.tables import roaring

    root = str(tmp_path / "dvx")
    _dv_table(spark, root)
    # corrupt the on-disk DV payload (version byte + size word intact)
    bins = [f for f in os.listdir(root) if f.startswith("deletion_vector_")]
    with open(os.path.join(root, bins[0]), "r+b") as f:
        f.seek(9)
        f.write(b"\xff")
    with pytest.raises(ValueError, match="checksum|magic|cookie"):
        r = DeltaLakeReader(spark, root)
        roaring.read_descriptor(root, r.snapshot(version=1).dvs[
            "part-00000.parquet"])


def test_deletion_vector_in_checkpoint(spark, tmp_path):
    """Checkpoint add rows carry the DV struct; absent DVs materialize
    as all-None structs and must be treated as no vector."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    root = str(tmp_path / "dvck")
    _dv_table(spark, root)
    r = DeltaLakeReader(spark, root)
    snap = r.snapshot()  # v2 state
    ck_rows = []
    ck_rows.append({"metaData": {
        "id": "t", "format": {"provider": "parquet", "options": {"o": "1"}},
        "schemaString": snap.schema.json(), "partitionColumns": [],
        "configuration": {"x": "y"}}, "protocol": None, "add": None})
    ck_rows.append({"metaData": None, "protocol": {
        "minReaderVersion": 3, "minWriterVersion": 7,
        "readerFeatures": ["deletionVectors"],
        "writerFeatures": ["deletionVectors"]}, "add": None})
    none_dv = {"storageType": None, "pathOrInlineDv": None, "offset": None,
               "sizeInBytes": None, "cardinality": None}
    for path in snap.files:
        dv = snap.dvs.get(path)
        ck_rows.append({"metaData": None, "protocol": None, "add": {
            "path": path, "partitionValues": {"_": "_"}, "size": 1,
            "modificationTime": 0, "dataChange": True,
            "deletionVector": dv if dv else none_dv}})
    pq.write_table(pa.Table.from_pylist(ck_rows),
                   os.path.join(root, "_delta_log",
                                f"{2:020d}.checkpoint.parquet"))
    with open(os.path.join(root, "_delta_log", "_last_checkpoint"), "w") as f:
        json.dump({"version": 2, "size": len(ck_rows)}, f)
    for v in range(3):  # force checkpoint-only replay
        os.remove(os.path.join(root, "_delta_log", f"{v:020d}.json"))
    r2 = DeltaLakeReader(spark, root)
    assert sorted(x.id for x in r2.read().collect()) == \
        [0, 1, 4, 6, 7, 8, 9] + list(range(11, 20))
    # paranoia: partitionValues placeholder didn't leak into schema
    assert [f.name for f in r2.read().schema.fields] == ["id", "v"]


def test_column_mapping_by_name(spark, tmp_path):
    """Reader version 2 + columnMapping=name: parquet stores physical
    names; logical schema comes from field metadata."""
    root = str(tmp_path / "cm")
    os.makedirs(os.path.join(root, "_delta_log"))
    df = spark.createDataFrame([(1, "x")], "col_1 long, col_2 string")
    df.toPandas().to_parquet(os.path.join(root, "part-00000.parquet"))
    schema = {
        "type": "struct",
        "fields": [
            {"name": "id", "type": "long", "nullable": True,
             "metadata": {"delta.columnMapping.id": 1,
                          "delta.columnMapping.physicalName": "col_1"}},
            {"name": "name", "type": "string", "nullable": True,
             "metadata": {"delta.columnMapping.id": 2,
                          "delta.columnMapping.physicalName": "col_2"}},
        ],
    }
    actions = [
        {"protocol": {"minReaderVersion": 2, "minWriterVersion": 5}},
        {"metaData": {"id": "t",
                      "format": {"provider": "parquet", "options": {}},
                      "schemaString": json.dumps(schema),
                      "partitionColumns": [],
                      "configuration": {"delta.columnMapping.mode": "name"}}},
        {"add": {"path": "part-00000.parquet", "partitionValues": {},
                 "size": 1, "modificationTime": 0, "dataChange": True}},
    ]
    with open(os.path.join(root, "_delta_log", f"{0:020d}.json"), "w") as f:
        f.write("\n".join(json.dumps(a) for a in actions) + "\n")
    out = DeltaLakeReader(spark, root).read()
    assert out.columns == ["id", "name"]
    assert out.collect()[0]["name"] == "x"


def test_roaring_roundtrip_property():
    """Property-based round-trip over the whole container space:
    arbitrary 64-bit row-index sets survive serialize -> deserialize
    bit-exactly (arrays, bitmaps, multi-key, dense and sparse)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from deltalake_poc_spark.tables import roaring

    idx = st.one_of(
        st.integers(min_value=0, max_value=1 << 16),        # one container
        st.integers(min_value=0, max_value=1 << 33),        # multi-key
        st.integers(min_value=0, max_value=(1 << 63) - 1),  # full range
    )

    @given(st.lists(idx, max_size=300, unique=True))
    @settings(max_examples=200, deadline=None)
    def check(values):
        data = roaring.serialize_roaring_array(values)
        assert roaring.deserialize_roaring_array(data) == sorted(values)

    check()


def test_z85_roundtrip_property():
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from deltalake_poc_spark.tables import roaring

    @given(st.binary(max_size=200))
    @settings(max_examples=200, deadline=None)
    def check(data):
        assert roaring.z85_decode(roaring.z85_encode(data),
                                  len(data)) == data

    check()


def test_multipart_checkpoint_replay(spark, tmp_path):
    """_last_checkpoint with parts=N: the replayer must assemble all N
    part files (the layout large tables checkpoint into)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    root = str(tmp_path / "mck")
    df = _write_delta_table(
        spark, root, [(1, "a"), (2, "b"), (3, "c")],
        ["id long", "v string"])
    # split a 3-row table's state across 2 checkpoint parts
    meta_row = {"metaData": {
        "id": "t", "format": {"provider": "parquet", "options": {"o": "1"}},
        "schemaString": df.schema.json(), "partitionColumns": [],
        "configuration": {"x": "y"}}, "protocol": None, "add": None}
    proto_row = {"metaData": None,
                 "protocol": {"minReaderVersion": 1, "minWriterVersion": 2},
                 "add": None}
    add_row = {"metaData": None, "protocol": None,
               "add": {"path": "part-00000.parquet",
                       "partitionValues": {"_": "_"}, "size": 1,
                       "modificationTime": 0, "dataChange": True}}
    log = os.path.join(root, "_delta_log")
    pq.write_table(pa.Table.from_pylist([meta_row, proto_row]),
                   os.path.join(
                       log, f"{0:020d}.checkpoint.{1:010d}.{2:010d}.parquet"))
    pq.write_table(pa.Table.from_pylist([add_row]),
                   os.path.join(
                       log, f"{0:020d}.checkpoint.{2:010d}.{2:010d}.parquet"))
    with open(os.path.join(log, "_last_checkpoint"), "w") as f:
        json.dump({"version": 0, "size": 3, "parts": 2}, f)
    os.remove(os.path.join(log, f"{0:020d}.json"))
    r = DeltaLakeReader(spark, root)
    assert sorted(x["id"] for x in r.read().collect()) == [1, 2, 3]


def test_standard_delta_data_skipping(spark, tmp_path):
    """read(where=) on a standard Delta table prunes files using the
    add actions' minValues/maxValues stats and partitionValues, and
    always equals full-scan + filter. The fixture is built through the
    engine's own standard-Delta export (which writes protocol stats)."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType, StructField, StructType

    from deltalake_poc_spark.tables import VersionedTable
    from deltalake_poc_spark.tables.deltaexport import export_standard_delta
    from deltalake_poc_spark.tables.deltareader import DeltaLakeReader

    t = VersionedTable.create(
        spark, str(tmp_path / "src"),
        StructType([StructField("id", LongType()),
                    StructField("v", LongType())]))
    for lo in (0, 1000, 2000):
        t.write(spark.range(lo, lo + 1000).select(
            F.col("id"), (F.col("id") * 3).alias("v")).coalesce(1),
            "append")
    dst = str(tmp_path / "exported")
    export_standard_delta(t, dst)

    r = DeltaLakeReader(spark, dst)
    snap = r.snapshot()
    assert len(snap.files) == 3
    assert snap.stats, "export must carry minValues/maxValues stats"

    got = sorted(x["id"] for x in r.read(where="id >= 2500").collect())
    assert got == list(range(2500, 3000))
    full = sorted(x["id"] for x in r.read().filter("id >= 2500").collect())
    assert got == full
    # and the pruning actually happened
    from deltalake_poc_spark.tables.stats import (
        file_may_match, parse_skipping_predicates)
    preds = parse_skipping_predicates("id >= 2500")
    kept = [p for p in snap.files
            if file_may_match(snap.stats.get(p, {}), preds)]
    assert len(kept) == 1
