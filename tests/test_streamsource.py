"""Streaming FROM a versioned table: appended commits become
micro-batches; checkpoint resume reads only new commits; rewriting
commits require ignoreChanges."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from deltalake_poc_spark.tables import VersionedTable
from deltalake_poc_spark.tables.streamsource import register_stream_source


def _run(spark, root, out_dir, ckpt, ignore_changes=False):
    reader = spark.readStream.format("versioned_table").option("path", root)
    if ignore_changes:
        reader = reader.option("ignoreChanges", "true")
    q = (reader.load().writeStream.format("parquet")
         .option("path", out_dir)
         .option("checkpointLocation", ckpt)
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)
    return spark.read.parquet(out_dir)


def test_stream_from_versioned_table(spark, tmp_path):
    register_stream_source(spark)
    schema = spark.createDataFrame([], "id long, v string").schema
    root = str(tmp_path / "t")
    ckpt = str(tmp_path / "ckpt")
    t = VersionedTable.create(spark, root, schema)
    t.write(spark.createDataFrame([(1, "a"), (2, "b")], schema))
    t.write(spark.createDataFrame([(3, "c")], schema))

    out = _run(spark, root, str(tmp_path / "out"), ckpt)
    assert sorted((r["id"], r["v"]) for r in out.collect()) == [
        (1, "a"), (2, "b"), (3, "c")]

    # new append -> only the delta arrives on resume
    t.write(spark.createDataFrame([(4, "d")], schema))
    out = _run(spark, root, str(tmp_path / "out"), ckpt)
    assert sorted(r["id"] for r in out.collect()) == [1, 2, 3, 4]
    assert out.filter("id = 4").count() == 1


def test_stream_rejects_rewrites_without_ignore_changes(spark, tmp_path):
    register_stream_source(spark)
    schema = spark.createDataFrame([], "id long, v string").schema
    root = str(tmp_path / "t")
    t = VersionedTable.create(spark, root, schema)
    t.write(spark.createDataFrame([(1, "a")], schema))
    (t.merge(spark.createDataFrame([(1, "A")], schema), on="id")
     .when_matched_update_all().execute())

    with pytest.raises(Exception, match="ignoreChanges|rewrites"):
        _run(spark, root, str(tmp_path / "o1"), str(tmp_path / "c1"))

    out = _run(spark, root, str(tmp_path / "o2"), str(tmp_path / "c2"), ignore_changes=True)
    # with ignoreChanges, the rewritten file's rows are re-emitted
    assert [(r["id"], r["v"]) for r in out.orderBy("v").collect()] == [
        (1, "A"), (1, "a")]


def test_batch_format_read_with_time_travel(spark, tmp_path):
    """spark.read.format('versioned_table') — the reference's exact
    read-API shape incl. versionAsOf (spark_delta_handler.py:253-259)."""
    register_stream_source(spark)
    schema = spark.createDataFrame([], "id long, v string").schema
    root = str(tmp_path / "t")
    t = VersionedTable.create(spark, root, schema)
    t.write(spark.createDataFrame([(1, "a")], schema))              # v1
    t.write(spark.createDataFrame([(2, "b")], schema), "overwrite")  # v2

    cur = (spark.read.format("versioned_table").option("path", root).load())
    assert [(r["id"], r["v"]) for r in cur.collect()] == [(2, "b")]
    old = (spark.read.format("versioned_table").option("path", root)
           .option("versionAsOf", "1").load())
    assert [(r["id"], r["v"]) for r in old.collect()] == [(1, "a")]
    ts1 = t.log.read_commit(1).timestamp
    by_ts = (spark.read.format("versioned_table").option("path", root)
             .option("timestampAsOf", str(ts1)).load())
    assert [r["id"] for r in by_ts.collect()] == [1]


def test_stream_change_feed(spark, tmp_path):
    """readChangeFeed streaming: each commit's change rows arrive as a
    micro-batch with _change_type/_commit_version stamps."""
    register_stream_source(spark)
    schema = spark.createDataFrame([], "id long, v string").schema
    root = str(tmp_path / "t")
    t = VersionedTable.create(spark, root, schema,
                              properties={"enableChangeDataFeed": "true"})
    t.write(spark.createDataFrame([(1, "a"), (2, "b")], schema))      # v1
    (t.merge(spark.createDataFrame([(2, "B"), (3, "c")], schema), on="id")
     .when_matched_update_all().when_not_matched_insert_all().execute())  # v2
    t.delete("id = 1")                                                 # v3

    out_dir, ckpt = str(tmp_path / "o"), str(tmp_path / "c")
    q = (spark.readStream.format("versioned_table")
         .option("path", root).option("readChangeFeed", "true")
         .load().writeStream.format("parquet").option("path", out_dir)
         .option("checkpointLocation", ckpt)
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = sorted((r["_commit_version"], r["_change_type"], r["id"])
                 for r in spark.read.parquet(out_dir).collect())
    assert got == [
        (1, "insert", 1), (1, "insert", 2),
        (2, "insert", 3),
        (2, "update_postimage", 2), (2, "update_preimage", 2),
        (3, "delete", 1),
    ]
    # matches the batch CDF reader exactly
    batch = sorted((r["_commit_version"], r["_change_type"], r["id"])
                   for r in t.read_change_feed(0).collect())
    assert got == batch

    # incremental: a new delete arrives alone on resume
    t.delete("id = 3")                                                 # v4
    q = (spark.readStream.format("versioned_table")
         .option("path", root).option("readChangeFeed", "true")
         .load().writeStream.format("parquet").option("path", out_dir)
         .option("checkpointLocation", ckpt)
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)
    v4 = [r for r in spark.read.parquet(out_dir).collect()
          if r["_commit_version"] == 4]
    assert [(r["_change_type"], r["id"]) for r in v4] == [("delete", 3)]


def test_stream_partitioned_table(spark, tmp_path):
    register_stream_source(spark)
    schema = spark.createDataFrame([], "id long, region string").schema
    root = str(tmp_path / "p")
    t = VersionedTable.create(spark, root, schema, partition_by=["region"])
    t.write(spark.createDataFrame([(1, "eu"), (2, "us")], schema))
    out = _run(spark, root, str(tmp_path / "o"), str(tmp_path / "c"))
    got = sorted((r["id"], r["region"]) for r in out.collect())
    assert got == [(1, "eu"), (2, "us")]


def test_stream_int_partition_values_typed(spark, tmp_path):
    """Hive partition-path values are strings; the datasource must cast
    them back to the DECLARED column type (an int-partitioned table
    previously yielded mistyped rows)."""
    register_stream_source(spark)
    schema = spark.createDataFrame([], "id long, bucket int, v string").schema
    root = str(tmp_path / "t")
    t = VersionedTable.create(spark, root, schema, partition_by=["bucket"])
    t.write(spark.createDataFrame([(1, 10, "a"), (2, 20, "b")], schema))

    out = _run(spark, root, str(tmp_path / "out"), str(tmp_path / "ckpt"))
    rows = sorted((r["id"], r["bucket"], r["v"]) for r in out.collect())
    assert rows == [(1, 10, "a"), (2, 20, "b")]
    assert dict(out.dtypes)["bucket"] == "int"

    # batch path through the same datasource casts identically
    batch = (spark.read.format("versioned_table").option("path", root).load())
    assert sorted(r["bucket"] for r in batch.collect()) == [10, 20]


def test_stream_timestamp_decimal_partition_values_typed(spark, tmp_path):
    """Timestamp- and decimal-partitioned tables must also round-trip
    typed partition values through the datasource paths (the int fix
    alone left these yielding strings)."""
    import datetime as dt
    from decimal import Decimal

    register_stream_source(spark)
    schema = spark.createDataFrame(
        [], "id long, ts timestamp, amt decimal(10,2), v string").schema
    root = str(tmp_path / "t")
    t = VersionedTable.create(spark, root, schema, partition_by=["ts", "amt"])
    ts1 = dt.datetime(2024, 1, 2, 3, 4, 5)
    ts2 = dt.datetime(2024, 6, 7, 8, 9, 10, 123456)
    t.write(spark.createDataFrame(
        [(1, ts1, Decimal("10.50"), "a"), (2, ts2, Decimal("99.99"), "b")],
        schema))

    out = _run(spark, root, str(tmp_path / "out"), str(tmp_path / "ckpt"))
    types = dict(out.dtypes)
    assert types["ts"] == "timestamp" and types["amt"] == "decimal(10,2)"
    rows = sorted((r["id"], r["ts"], r["amt"]) for r in out.collect())
    assert rows == [(1, ts1, Decimal("10.50")), (2, ts2, Decimal("99.99"))]

    batch = spark.read.format("versioned_table").option("path", root).load()
    assert sorted((r["ts"], r["amt"]) for r in batch.collect()) == [
        (ts1, Decimal("10.50")), (ts2, Decimal("99.99"))]


def _dv_deleted_table(spark, root):
    """10 rows, then a deletion-vector DELETE of ids 0-2."""
    t = VersionedTable.create(
        spark, root, spark.createDataFrame([], "id long, v string").schema,
        properties={"enableDeletionVectors": "true"})
    t.write(spark.range(10).select(
        "id", F.col("id").cast("string").alias("v")))
    t.delete("id < 3")
    assert t.snapshot().dvs  # a vector, not a rewrite
    return t


def test_batch_format_read_applies_deletion_vectors(spark, tmp_path):
    register_stream_source(spark)
    root = str(tmp_path / "t")
    t = _dv_deleted_table(spark, root)
    reader = spark.read.format("versioned_table").option("path", root)
    got = sorted((r["id"], r["v"]) for r in reader.load().collect())
    assert got == sorted((r["id"], r["v"]) for r in t.read().collect())
    assert [i for i, _ in got] == list(range(3, 10))
    before = reader.option("versionAsOf", t.version() - 1).load()
    assert before.count() == 10


def test_stream_rejects_dv_commit_without_ignore_changes(spark, tmp_path):
    register_stream_source(spark)
    root = str(tmp_path / "t")
    _dv_deleted_table(spark, root)
    with pytest.raises(Exception, match="ignoreChanges|rewrites"):
        _run(spark, root, str(tmp_path / "o1"), str(tmp_path / "c1"))
    # with ignoreChanges the DELETE adds no rows: the append's 10 stay
    out = _run(spark, root, str(tmp_path / "o2"), str(tmp_path / "c2"),
               ignore_changes=True)
    assert out.count() == 10


def _cdc_snapshot_table(spark, base):
    """The CDC applier's customers snapshot after one batch of 5
    creates: timestamp columns (created_at, __cdc_timestamp,
    __processed_at) on an append-only history."""
    from deltalake_poc_spark.cdc import CDCApplier, parse_debezium
    from deltalake_poc_spark.cdc.synth import raw_kafka_frame

    ids = spark.range(1, 6)
    raw = raw_kafka_frame(
        ids, op=F.lit("c"), key=F.col("id"), lsn=F.col("id"),
        ts_ms=F.lit(1700000000000) + F.col("id"),
        after=F.struct(
            F.col("id"), F.lit("x@y").alias("email"),
            (F.lit(1700000000_000000) + F.col("id")).alias("created_at")))
    applier = CDCApplier(spark, base)
    applier.apply_batch(parse_debezium(raw), tables=["customers"])
    return applier.snapshot_table("customers")


def test_cdc_snapshot_table_reads_like_the_table(spark, tmp_path):
    """Batch and stream reads of a table with timestamp columns return
    what VersionedTable.read() returns."""
    register_stream_source(spark)
    t = _cdc_snapshot_table(spark, str(tmp_path / "cdc"))
    root = t.log.root

    def rows(df):
        return sorted((tuple(r) for r in df.select(*t.read().columns)
                       .collect()), key=lambda r: r[0])

    want = rows(t.read())
    assert len(want) == 5 and want[0][-1] is not None
    batch = spark.read.format("versioned_table").option("path", root).load()
    assert rows(batch) == want
    assert rows(_run(spark, root, str(tmp_path / "o"),
                     str(tmp_path / "c"))) == want


def test_starting_version_is_inclusive_on_both_formats(spark, tmp_path):
    """startingVersion=N streams commit N onward (Delta's rule) on a
    table and on its standard Delta export alike."""
    from deltalake_poc_spark.tables.deltaexport import export_standard_delta

    register_stream_source(spark)
    schema = spark.createDataFrame([], "id long, v string").schema
    t = VersionedTable.create(spark, str(tmp_path / "t"), schema)
    for v in (1, 2, 3):
        t.write(spark.range(v * 10, v * 10 + 10).select(
            "id", F.lit(str(v)).alias("v")))
    dest = str(tmp_path / "delta")
    export_standard_delta(t, dest)

    got = {}
    for fmt, root in (("versioned_table", t.log.root),
                      ("standard_delta", dest)):
        q = (spark.readStream.format(fmt).option("path", root)
             .option("startingVersion", "2").load()
             .writeStream.format("parquet")
             .option("path", str(tmp_path / f"o_{fmt}"))
             .option("checkpointLocation", str(tmp_path / f"c_{fmt}"))
             .outputMode("append").trigger(availableNow=True).start())
        q.awaitTermination(120)
        got[fmt] = sorted((r["id"], r["v"]) for r in spark.read.parquet(
            str(tmp_path / f"o_{fmt}")).collect())
    assert got["versioned_table"] == [(i, str(i // 10)) for i in range(20, 40)]
    assert got["standard_delta"] == got["versioned_table"]


def test_standard_delta_rejects_read_change_feed(spark, tmp_path):
    """A standard Delta table has no change feed through this source:
    the option raises instead of streaming plain appends."""
    import __spark_entry__ as entrymod

    register_stream_source(spark)
    root = entrymod._dv_fixture_root()
    for reader in (spark.read, spark.readStream):
        with pytest.raises(Exception, match="readChangeFeed"):
            (reader.format("standard_delta").option("path", root)
             .option("readChangeFeed", "true").load())


def test_batch_change_feed_read_from_starting_version(spark, tmp_path):
    """readChangeFeed in a batch read returns the change rows from
    startingVersion on, as VersionedTable.read_change_feed does."""
    register_stream_source(spark)
    schema = spark.createDataFrame([], "id long, v string").schema
    root = str(tmp_path / "t")
    t = VersionedTable.create(spark, root, schema,
                              properties={"enableChangeDataFeed": "true"})
    t.write(spark.createDataFrame([(1, "a"), (2, "b")], schema))      # v1
    t.update({"v": "'B'"}, "id = 2")                                  # v2
    t.write(spark.createDataFrame([(3, "c")], schema), "overwrite")   # v3

    def changes(df):
        return sorted((r["_commit_version"], r["_change_type"], r["id"],
                       r["v"]) for r in df.collect())

    got = changes(spark.read.format("versioned_table").option("path", root)
                  .option("readChangeFeed", "true")
                  .option("startingVersion", "2").load())
    assert got == changes(t.read_change_feed(2))
    assert {c[1] for c in got} == {"update_preimage", "update_postimage",
                                   "insert", "delete"}


def test_change_feed_requires_cdf_enabled(spark, tmp_path):
    """Without enableChangeDataFeed a DELETE writes no change files, so
    a change-feed read would silently miss it: batch and stream both
    raise, as VersionedTable.read_change_feed does."""
    register_stream_source(spark)
    schema = spark.createDataFrame([], "id long, v string").schema
    root = str(tmp_path / "t")
    t = VersionedTable.create(spark, root, schema)
    t.write(spark.createDataFrame([(1, "a"), (2, "b")], schema))
    t.delete("id = 1")
    for reader in (spark.read, spark.readStream):
        with pytest.raises(Exception, match="enableChangeDataFeed"):
            (reader.format("versioned_table").option("path", root)
             .option("readChangeFeed", "true").load())
