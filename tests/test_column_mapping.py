"""Column-mapping schema evolution: rename/drop without data rewrite
(reference README.md:149-162 — Delta's columnMapping.mode=name).

The contract under test:
- rename/drop are METADATA-ONLY commits (no files added or removed)
- reads resolve logical names through per-snapshot physicalName
  metadata, so time travel to pre-rename versions shows the OLD names
  with the original data
- writes after a rename land under physical names, so old and new
  files read uniformly
- a column added after a rename/drop gets a fresh physical name and
  does NOT resurrect old physical data
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from deltalake_poc_spark.tables import VersionedTable


def _mk(spark, tmp_path, rows=((1, "a@x", 10.0), (2, "b@x", 20.0))):
    schema = spark.createDataFrame([], "id long, email string, score double").schema
    t = VersionedTable.create(spark, str(tmp_path / "t"), schema)
    t.write(spark.createDataFrame(list(rows), schema))
    return t, schema


def test_rename_is_metadata_only_and_time_travels(spark, tmp_path):
    t, schema = _mk(spark, tmp_path)
    v_before = t.version()
    files_before = sorted(t.snapshot().file_paths)

    c = t.rename_column("email", "contact_email")
    assert c.operation == "RENAME COLUMN"
    assert c.add == [] and c.remove == []  # no data rewrite
    assert sorted(t.snapshot().file_paths) == files_before

    # current read: new logical name, old data
    rows = {r["id"]: r["contact_email"] for r in t.read().collect()}
    assert rows == {1: "a@x", 2: "b@x"}
    assert "email" not in t.read().columns

    # time travel: pre-rename version keeps the OLD name
    old = t.read(version=v_before)
    assert "email" in old.columns and "contact_email" not in old.columns
    assert {r["id"]: r["email"] for r in old.collect()} == {1: "a@x", 2: "b@x"}


def test_write_and_merge_after_rename(spark, tmp_path):
    t, _ = _mk(spark, tmp_path)
    t.rename_column("email", "contact_email")

    new_schema = spark.createDataFrame(
        [], "id long, contact_email string, score double").schema
    t.write(spark.createDataFrame([(3, "c@x", 30.0)], new_schema))
    rows = {r["id"]: r["contact_email"] for r in t.read().collect()}
    assert rows == {1: "a@x", 2: "b@x", 3: "c@x"}

    # MERGE updates through the logical name
    (t.merge(spark.createDataFrame([(1, "A@x", 11.0)], new_schema), on="id")
     .when_matched_update_all().when_not_matched_insert_all().execute())
    rows = {r["id"]: (r["contact_email"], r["score"])
            for r in t.read().collect()}
    assert rows[1] == ("A@x", 11.0) and rows[3] == ("c@x", 30.0)

    # key stats survived the mapping (pruning stays logical)
    assert any("id" in e.stats for e in t.snapshot().files)


def test_drop_column_and_no_resurrection(spark, tmp_path):
    t, _ = _mk(spark, tmp_path)
    v_before = t.version()
    c = t.drop_column("email")
    assert c.add == [] and c.remove == []
    assert "email" not in t.read().columns
    # time travel still sees it
    assert {r["id"]: r["email"] for r in t.read(version=v_before).collect()} \
        == {1: "a@x", 2: "b@x"}

    # re-adding a column with the same LOGICAL name must not read the
    # dropped column's physical data back
    add_schema = spark.createDataFrame(
        [], "id long, score double, email string").schema
    t.write(spark.createDataFrame([(3, 30.0, "fresh@x")], add_schema))
    rows = {r["id"]: r["email"] for r in t.read().collect()}
    assert rows == {1: None, 2: None, 3: "fresh@x"}


def test_rename_guards(spark, tmp_path):
    t, _ = _mk(spark, tmp_path)
    with pytest.raises(ValueError, match="no such column"):
        t.rename_column("nope", "x")
    with pytest.raises(ValueError, match="already exists"):
        t.rename_column("email", "score")
    with pytest.raises(ValueError, match="no such column"):
        t.drop_column("nope")


def test_cdf_across_rename(spark, tmp_path):
    schema = spark.createDataFrame([], "id long, email string").schema
    t = VersionedTable.create(spark, str(tmp_path / "t"), schema,
                              properties={"enableChangeDataFeed": "true"})
    t.write(spark.createDataFrame([(1, "a@x")], schema))
    t.rename_column("email", "contact_email")
    new_schema = spark.createDataFrame([], "id long, contact_email string").schema
    (t.merge(spark.createDataFrame([(1, "A@x")], new_schema), on="id")
     .when_matched_update_all().execute())

    cdf = t.read_change_feed(starting_version=0)
    assert "contact_email" in cdf.columns
    post = cdf.filter(F.col("_change_type") == "update_postimage").collect()
    assert [r["contact_email"] for r in post] == ["A@x"]


def test_cdc_applier_rename_midstream(spark, tmp_path):
    """Golden: rename between CDC batches — post-rename events carry
    the new field name (as Debezium does), old versions time-travel
    with the old name."""
    import json as _json

    from deltalake_poc_spark.cdc import CDCApplier, parse_debezium

    def msg(op, id_, lsn, after):
        payload = {
            "op": op, "ts_ms": 1700000000000,
            "source": {"version": "2.3", "connector": "postgresql",
                       "name": "cdc", "ts_ms": 1700000000000,
                       "snapshot": "false", "db": "d", "schema": "public",
                       "table": "customers", "txId": lsn, "lsn": lsn},
            "after": after,
        }
        return (_json.dumps({"payload": {"id": id_}}),
                _json.dumps({"payload": payload}),
                "cdc.public.customers", 0, lsn)

    def raw(msgs):
        return spark.createDataFrame(
            msgs,
            "key string, value string, topic string, partition int, offset long")

    cust = {"id": 1, "first_name": "Al", "last_name": "A", "email": "a@x",
            "phone": None, "address": "1 Way",
            "created_at": 1700000000_000000, "updated_at": 1700000000_000000}
    applier = CDCApplier(spark, str(tmp_path))
    applier.apply_batch(parse_debezium(raw([msg("c", 1, lsn=10, after=cust)])))
    t = applier.snapshot_table("customers")
    v_before = t.version()

    applier.rename_column("customers", "email", "contact_email")

    after2 = {k: v for k, v in cust.items() if k != "email"}
    after2["contact_email"] = "renamed@x"
    applier.apply_batch(parse_debezium(raw([msg("u", 1, lsn=11, after=after2)])))

    now = {r["id"]: r["contact_email"]
           for r in applier.snapshot_table("customers").read().collect()}
    assert now == {1: "renamed@x"}
    old = t.read(version=v_before)
    assert "email" in old.columns
    assert [r["email"] for r in old.collect()] == ["a@x"]

    with pytest.raises(ValueError, match="key column"):
        applier.rename_column("customers", "id", "pk")
