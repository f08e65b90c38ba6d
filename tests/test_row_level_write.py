"""One write per row-level operation: a MERGE, DELETE or UPDATE stores
its data files and its change files in one Spark write. The data files
of a CDF operation carry an all-null ``_change_type`` column that no
read may surface; plain writes keep the table's physical schema; a
partitioned table's change files sit in k=v dirs and keep typed
partition values through the batch and stream change feeds."""

from __future__ import annotations

import json

import pyarrow.parquet as pq
from pyspark.sql import functions as F

from deltalake_poc_spark.tables import VersionedTable
from deltalake_poc_spark.tables.streamsource import register_stream_source

COLS = ["id", "name", "amount"]
CDF_COLS = ["_change_type", "_commit_version", "_commit_timestamp"]


def _table(spark, root, properties=None, partition_by=None,
           schema="id long, name string, amount double"):
    return VersionedTable.create(
        spark, root, spark.createDataFrame([], schema).schema,
        properties={"enableChangeDataFeed": "true", **(properties or {})},
        partition_by=partition_by)


def _merge(spark, t, rows, schema="id long, name string, amount double"):
    src = spark.createDataFrame(rows, schema + ", __delete boolean")
    return (t.merge(src, on="id")
            .when_matched_delete(condition=F.col("s.__delete"))
            .when_matched_update_all()
            .when_not_matched_insert_all().execute())


def _file_columns(t, commit) -> list[list[str]]:
    return [pq.read_schema(t.log.abs_path(e.path)).names for e in commit.add]


def _stream(spark, root, out, ckpt, **options):
    reader = spark.readStream.format("versioned_table").option("path", root)
    for k, v in options.items():
        reader = reader.option(k, v)
    q = (reader.load().writeStream.format("parquet").option("path", out)
         .option("checkpointLocation", ckpt)
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)
    return spark.read.parquet(out)


def test_change_type_column_never_surfaces(spark, tmp_path):
    """A CDF MERGE's data files hold a null ``_change_type``; read(),
    time travel, the change feed, the versioned_table source (batch and
    stream), OPTIMIZE output and history_df() never show it."""
    register_stream_source(spark)
    root = str(tmp_path / "t")
    t = _table(spark, root)
    t.write(spark.createDataFrame(
        [(i, f"n{i}", float(i)) for i in range(1, 7)], t.schema()))
    merged = _merge(spark, t, [(2, "N2", 2.5, False), (3, "n3", 3.0, True),
                               (7, "n7", 7.0, False)])
    # the accepted format change is really there
    assert merged.add and all(cols == COLS + ["_change_type"]
                              for cols in _file_columns(t, merged))
    t.update({"name": F.lit("U")}, "id = 4")

    want = [(1, "n1", 1.0), (2, "N2", 2.5), (4, "U", 4.0), (5, "n5", 5.0),
            (6, "n6", 6.0), (7, "n7", 7.0)]
    for df in (t.read(), t.read(where="id > 0"),
               spark.read.format("versioned_table").option("path", root)
               .load()):
        assert df.columns == COLS
        assert sorted(tuple(r) for r in df.collect()) == want
    old = t.read(version=merged.version)
    assert old.columns == COLS
    assert sorted(r["id"] for r in old.collect()) == [1, 2, 4, 5, 6, 7]

    feed = t.read_change_feed(0)
    assert feed.columns == COLS + CDF_COLS
    assert feed.filter(F.col("_change_type").isNull()).count() == 0
    assert sorted((r["_commit_version"], r["_change_type"], r["id"])
                  for r in feed.filter(F.col("_commit_version")
                                       >= merged.version).collect()) == [
        (merged.version, "delete", 3), (merged.version, "insert", 7),
        (merged.version, "update_postimage", 2),
        (merged.version, "update_preimage", 2),
        (merged.version + 1, "update_postimage", 4),
        (merged.version + 1, "update_preimage", 4)]

    rows = _stream(spark, root, str(tmp_path / "o1"), str(tmp_path / "c1"),
                   ignoreChanges="true")
    assert rows.columns == COLS
    changes = _stream(spark, root, str(tmp_path / "o2"),
                      str(tmp_path / "c2"), readChangeFeed="true")
    assert sorted(changes.columns) == sorted(COLS + CDF_COLS)
    assert changes.filter(F.col("_change_type").isNull()).count() == 0
    assert changes.count() == feed.count()

    optimized = t.optimize()
    assert optimized.add and all(cols == COLS
                                 for cols in _file_columns(t, optimized))
    assert sorted(tuple(r) for r in t.read().collect()) == want
    assert t.history_df().columns == [
        "version", "timestamp", "operation", "operationParameters",
        "operationMetrics"]
    assert not any("_change_type" in json.dumps(h) for h in t.history())


def test_plain_writes_carry_the_physical_schema(spark, tmp_path):
    """write(), append_batch() and OPTIMIZE store exactly the table's
    physical columns, on a CDF table too."""
    t = _table(spark, str(tmp_path / "t"))
    schema = t.schema()
    c1 = t.write(spark.createDataFrame([(1, "a", 1.0), (2, "b", 2.0)],
                                       schema))
    c2 = t.append_batch(spark.createDataFrame([(3, "c", 3.0)], schema),
                        batch_id="b0")
    _merge(spark, t, [(1, "A", 1.5, False)])
    c3 = t.optimize()
    for c in (c1, c2, c3):
        assert c.add and all(cols == COLS for cols in _file_columns(t, c))


def test_partitioned_change_feed_keeps_typed_partition_values(spark,
                                                              tmp_path):
    """An int-partitioned CDF table: MERGE and DELETE stage their change
    files in bucket=k dirs, and the batch change feed, the
    versioned_table change stream and its batch form return the same
    int-typed rows, a null partition value as null."""
    register_stream_source(spark)
    schema = "id long, bucket int, v string"
    root = str(tmp_path / "t")
    t = _table(spark, root, partition_by=["bucket"], schema=schema)
    t.write(spark.createDataFrame([(1, 10, "a"), (2, 20, "b"), (3, 10, "c"),
                                   (5, None, "e")], t.schema()))
    merged = _merge(spark, t, [(2, 20, "B", False), (4, 30, "d", False)],
                    schema)
    deleted = t.delete("bucket = 10 OR bucket IS NULL")
    for c in (merged, deleted):
        (_, paths), = t.log.change_feed(c)
        # the partition value lives in the path, as for data files
        assert paths and all(
            "/bucket=" in p and pq.read_schema(t.log.abs_path(p)).names
            == ["id", "v", "_change_type"] for p in paths)

    want = sorted([(1, "insert", 1, 10), (1, "insert", 2, 20),
                   (1, "insert", 3, 10), (1, "insert", 5, None),
                   (2, "update_preimage", 2, 20),
                   (2, "update_postimage", 2, 20), (2, "insert", 4, 30),
                   (3, "delete", 1, 10), (3, "delete", 3, 10),
                   (3, "delete", 5, None)], key=repr)

    def got(df):
        assert dict(df.dtypes)["bucket"] == "int"
        return sorted(((r["_commit_version"], r["_change_type"], r["id"],
                        r["bucket"]) for r in df.collect()), key=repr)

    assert got(t.read_change_feed(0)) == want
    assert got(_stream(spark, root, str(tmp_path / "o"), str(tmp_path / "c"),
                       readChangeFeed="true")) == want
    assert got(spark.read.format("versioned_table").option("path", root)
               .option("readChangeFeed", "true").load()) == want


def test_blooms_and_stats_cover_table_columns_only(spark, tmp_path,
                                                   monkeypatch):
    """A CDF MERGE on a bloom-configured table: every added file is a
    data file with its bloom, its stats and blooms name table columns
    only, and the bloom job scans only the staged data files."""
    from deltalake_poc_spark.tables import table as table_mod

    scanned = []
    real = table_mod.collect_blooms_distributed

    def recording(spark_, staging_dir, cols, fpp=0.01):
        scanned.append(staging_dir)
        return real(spark_, staging_dir, cols, fpp=fpp)

    monkeypatch.setattr(table_mod, "collect_blooms_distributed", recording)
    t = _table(spark, str(tmp_path / "t"),
               properties={"graft.bloomFilter.columns": "id,name"})
    t.write(spark.createDataFrame(
        [(i, f"n{i}", float(i)) for i in range(1, 6)], t.schema()))
    scanned.clear()
    c = _merge(spark, t, [(2, "N2", 2.5, False), (3, "n3", 3.0, True),
                          (9, "n9", 9.0, False)])
    assert c.change_dir is not None and c.add
    for e in c.add:
        assert e.path.startswith("data/")
        assert set(e.bloom) == {"id", "name"}
        assert set(e.stats) <= set(COLS)
        assert "_change_type" not in e.stats
    assert scanned and all(d.endswith("__cdc=false") for d in scanned)
