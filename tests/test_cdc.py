"""CDC engine: envelope parse, batch apply (merge/delete/dedup),
metadata columns, audit trail, CDF — the golden end-to-end the
reference never automated (SURVEY.md §5)."""

from __future__ import annotations

import json
import os
import threading
import time

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

from deltalake_poc_spark.cdc import CDCApplier, parse_debezium
from deltalake_poc_spark.cdc import schema as S


def _msg(op, id_, table="customers", lsn=1, ts_ms=1700000000000,
         after=None, before=None, transaction=None):
    payload = {
        "op": op, "ts_ms": ts_ms,
        "source": {
            "version": "2.3", "connector": "postgresql", "name": "cdc",
            "ts_ms": ts_ms, "snapshot": "false", "db": "sourcedb",
            "schema": "public", "table": table, "txId": lsn, "lsn": lsn,
        },
    }
    if after is not None:
        payload["after"] = after
    if before is not None:
        payload["before"] = before
    if transaction is not None:
        payload["transaction"] = transaction
    return (
        json.dumps({"payload": {"id": id_}}),
        json.dumps({"payload": payload}),
        f"cdc.public.{table}", 0, lsn,
    )


def _raw(spark, msgs):
    return spark.createDataFrame(
        msgs, "key string, value string, topic string, partition int, offset long"
    )


CUST = {"id": 1, "first_name": "Alice", "last_name": "A", "email": "a@x",
        "phone": None, "address": "1 Way",
        "created_at": 1700000000_000000, "updated_at": 1700000000_000000}


def test_parse_envelope(spark):
    msgs = [
        _msg("c", 1, lsn=10, after=CUST),
        _msg("u", 1, lsn=11, after={**CUST, "email": "new@x"}),
        _msg("d", 1, lsn=12, before=CUST),
        ("null-key", None, "cdc.public.customers", 0, 13),  # tombstone
    ]
    out = parse_debezium(_raw(spark, msgs)).orderBy("offset").collect()
    assert len(out) == 3  # tombstone dropped (P2)
    ins, upd, dele = out
    assert ins["event_id"] == "cdc.public.customers-0-10"
    assert ins["operation"] == "c" and ins["operation_name"] == "INSERT"
    assert upd["operation_name"] == "UPDATE" and dele["operation_name"] == "DELETE"
    assert ins["table_name"] == "public.customers"
    assert ins["source_lsn"] == 10
    # envelope ts_ms is milliseconds (F4)
    assert ins["event_timestamp"].year == 2023
    assert json.loads(upd["after_data"])["email"] == "new@x"
    assert json.loads(dele["before_data"])["id"] == 1
    assert dele["after_data"] is None
    # no transaction block -> null txn columns
    assert ins["txn_id"] is None and ins["txn_total_order"] is None


def test_parse_transaction_block(spark):
    """Debezium transaction metadata (CDCEvent.transaction,
    shared/models.py:42-88) flows into the audit shape."""
    msgs = [
        _msg("c", 1, lsn=10, after=CUST,
             transaction={"id": "txn-571", "total_order": 2,
                          "data_collection_order": 1}),
    ]
    row = parse_debezium(_raw(spark, msgs)).collect()[0]
    assert row["txn_id"] == "txn-571"
    assert row["txn_total_order"] == 2
    assert row["txn_collection_order"] == 1


def test_apply_golden_lifecycle(spark, tmp_path):
    """insert -> update -> (next batch) delete, two tables, across
    batches — mirrors scripts/test-cdc.sh:22-44 end to end."""
    applier = CDCApplier(spark, str(tmp_path))
    prod = {"id": 7, "name": "Widget", "description": "w", "price": 9.99,
            "stock_quantity": 5, "category": "tools",
            "created_at": 1700000000_000000, "updated_at": 1700000000_000000}
    b1 = [
        _msg("c", 1, lsn=10, after=CUST),
        _msg("u", 1, lsn=11, after={**CUST, "email": "new@x"}),
        _msg("c", 2, lsn=12, after={**CUST, "id": 2, "email": "b@x"}),
        _msg("c", 7, table="products", lsn=13, after=prod),
    ]
    m1 = applier.apply_batch(parse_debezium(_raw(spark, b1)))
    assert m1["customers"]["numTargetRowsInserted"] == 2
    cust = applier.snapshot_table("customers").read()
    rows = {r["id"]: r for r in cust.collect()}
    assert rows[1]["email"] == "new@x"  # in-batch dedup kept latest
    assert rows[1][S.META_OPERATION] == "u"
    assert rows[1]["created_at"].year == 2023  # µs field conversion (F5)
    assert rows[1][S.META_TIMESTAMP] is not None
    assert rows[1][S.META_PROCESSED] is not None

    b2 = [
        _msg("d", 1, lsn=20, before={**CUST, "email": "new@x"}),
        _msg("u", 2, lsn=21, after={**CUST, "id": 2, "email": "b2@x"}),
    ]
    m2 = applier.apply_batch(parse_debezium(_raw(spark, b2)))
    assert m2["customers"]["numTargetRowsDeleted"] == 1
    assert m2["customers"]["numTargetRowsUpdated"] == 1
    rows = {r["id"]: r for r in applier.snapshot_table("customers").read().collect()}
    assert set(rows) == {2}
    assert rows[2]["email"] == "b2@x"
    # products untouched by batch 2
    assert applier.snapshot_table("products").read().count() == 1
    # audit has every event
    assert applier.audit_table().read().count() == 6
    # CDF timeline on customers reflects the full history
    cdf = applier.snapshot_table("customers").read_change_feed(0)
    kinds = sorted(
        (r["_change_type"], r["id"]) for r in cdf.collect()
    )
    assert ("delete", 1) in kinds and ("insert", 1) in kinds
    assert ("update_postimage", 2) in kinds


def test_in_batch_delete_then_insert_wins_by_order(spark, tmp_path):
    """d followed by c (higher lsn) in ONE batch -> row exists;
    c followed by d -> row absent (SURVEY.md §7.3)."""
    applier = CDCApplier(spark, str(tmp_path))
    batch = [
        _msg("c", 1, lsn=10, after=CUST),
        _msg("d", 1, lsn=11, before=CUST),                      # delete wins for id=1
        _msg("d", 2, lsn=12, before={**CUST, "id": 2}),
        _msg("c", 2, lsn=13, after={**CUST, "id": 2, "email": "re@x"}),  # re-insert wins
    ]
    applier.apply_batch(parse_debezium(_raw(spark, batch)))
    rows = {r["id"]: r for r in applier.snapshot_table("customers").read().collect()}
    assert set(rows) == {2}
    assert rows[2]["email"] == "re@x"


def test_delete_of_absent_key_is_noop(spark, tmp_path):
    applier = CDCApplier(spark, str(tmp_path))
    batch = [_msg("d", 99, lsn=10, before={**CUST, "id": 99})]
    m = applier.apply_batch(parse_debezium(_raw(spark, batch)))
    assert m["customers"]["numTargetRowsDeleted"] == 0
    assert applier.snapshot_table("customers").read().count() == 0


def test_apply_idempotent_replay(spark, tmp_path):
    """Replaying the same batch (at-least-once delivery) must not
    change the snapshot (T3 exactly-once contract via idempotent MERGE;
    docs/technical-docs.md:550-589). With a batch_id the AUDIT append
    is also exactly-once."""
    applier = CDCApplier(spark, str(tmp_path))
    batch = parse_debezium(_raw(spark, [
        _msg("c", 1, lsn=10, after=CUST),
        _msg("u", 1, lsn=11, after={**CUST, "email": "new@x"}),
    ]))
    applier.apply_batch(batch, batch_id="q-0")
    before = sorted((r["id"], r["email"]) for r in
                    applier.snapshot_table("customers").read().collect())
    assert applier.audit_table().read().count() == 2
    applier.apply_batch(batch, batch_id="q-0")  # replay of the same batch
    after = sorted((r["id"], r["email"]) for r in
                   applier.snapshot_table("customers").read().collect())
    assert before == after == [(1, "new@x")]
    assert applier.audit_table().read().count() == 2  # audit NOT duplicated
    # a new batch id still appends
    applier.apply_batch(batch, batch_id="q-1")
    assert applier.audit_table().read().count() == 4


def test_audit_append_of_unsized_batch_is_one_file_per_table(spark,
                                                             tmp_path):
    """An RDD-backed events frame has no plan size estimate; its audit
    append must still land one file per source_table directory, not
    one per input partition."""
    from collections import Counter

    tables = ["customers", "products", "orders"]
    parsed = parse_debezium(_raw(spark, [
        _msg("c", i, table=t, lsn=10 + i, after={"id": i})
        for i in range(8) for t in tables])).collect()
    # 8 slices of 3 consecutive rows: every partition holds every table
    events = spark.createDataFrame(
        spark.sparkContext.parallelize(parsed, 8), S.CDC_EVENTS_SCHEMA)
    assert events.rdd.getNumPartitions() == 8
    applier = CDCApplier(spark, str(tmp_path))
    applier.apply_batch(events, tables=[], batch_id="b0")
    audit = applier.audit_table()
    per_dir = Counter(e.partition["source_table"]
                      for e in audit.snapshot().files)
    assert set(per_dir) == set(tables)
    assert max(per_dir.values()) == 1, per_dir
    assert audit.read().count() == 24


def test_schema_evolution_mid_stream(spark, tmp_path):
    """SURVEY.md §7.6: a new column appearing in after_data mid-stream
    extends the snapshot schema (mergeSchema semantics); earlier rows
    read as null for it."""
    applier = CDCApplier(spark, str(tmp_path), evolve_schema=True)
    applier.apply_batch(parse_debezium(_raw(spark, [
        _msg("c", 1, lsn=10, after=CUST),
    ])))
    b2 = [_msg("c", 2, lsn=20,
               after={**CUST, "id": 2, "loyalty_tier": "gold"})]
    applier.apply_batch(parse_debezium(_raw(spark, b2)))
    snap = applier.snapshot_table("customers").read()
    assert "loyalty_tier" in snap.columns
    rows = {r["id"]: r for r in snap.collect()}
    assert rows[2]["loyalty_tier"] == "gold"
    assert rows[1]["loyalty_tier"] is None
    # a third batch updating row 1 populates the evolved column
    applier.apply_batch(parse_debezium(_raw(spark, [
        _msg("u", 1, lsn=30, after={**CUST, "loyalty_tier": "silver"}),
    ])))
    rows = {r["id"]: r for r in applier.snapshot_table("customers").read().collect()}
    assert rows[1]["loyalty_tier"] == "silver"


def test_synth_roundtrip(spark):
    """Distributed envelope synthesis parses back to the same facts."""
    from deltalake_poc_spark.cdc.synth import raw_kafka_frame

    base = spark.range(0, 50).select(
        F.col("id"), (F.col("id") + 100).alias("lsn"),
        F.when(F.col("id") % 5 == 0, "d").otherwise("c").alias("op"),
    )
    raw = raw_kafka_frame(
        base,
        op=F.col("op"), key=F.col("id"), lsn=F.col("lsn"),
        ts_ms=F.lit(1700000000000),
        after=F.when(F.col("op") != "d",
                     F.struct(F.col("id"), F.lit("x").alias("name"))),
        before=F.when(F.col("op") == "d",
                      F.struct(F.col("id"), F.lit("x").alias("name"))),
        table="demo",
    )
    parsed = parse_debezium(raw)
    assert parsed.count() == 50
    got = parsed.filter("operation = 'd'").count()
    assert got == 10
    one = parsed.filter("offset = 100").collect()[0]
    assert json.loads(one["before_data"])["id"] == 0
    assert one["after_data"] is None


def test_standard_mirror_follows_cdc(spark, tmp_path):
    """standard_mirror_path: every apply_batch incrementally publishes
    the touched snapshot tables as STANDARD Delta tables; a standard
    log replayer must see exactly the engine's snapshot (and its CDF)
    after each batch."""
    from deltalake_poc_spark.tables.deltareader import DeltaLakeReader

    mirror = str(tmp_path / "mirror")
    applier = CDCApplier(spark, str(tmp_path / "cdc"),
                         standard_mirror_path=mirror)
    b1 = [
        _msg("c", 1, lsn=10, after=CUST),
        _msg("c", 2, lsn=11, after={**CUST, "id": 2, "email": "b@x"}),
    ]
    applier.apply_batch(parse_debezium(_raw(spark, b1)), tables=["customers"])
    r = DeltaLakeReader(spark, f"{mirror}/customers")
    assert r.latest_version() == applier.snapshot_table("customers").version()
    assert {x["id"] for x in r.read().select("id").collect()} == {1, 2}

    b2 = [
        _msg("d", 1, lsn=20, before=CUST),
        _msg("u", 2, lsn=21, after={**CUST, "id": 2, "email": "b2@x"}),
    ]
    applier.apply_batch(parse_debezium(_raw(spark, b2)), tables=["customers"])
    r = DeltaLakeReader(spark, f"{mirror}/customers")
    eng = applier.snapshot_table("customers")
    assert r.latest_version() == eng.version()
    got = {x["id"]: x["email"] for x in r.read().select("id", "email").collect()}
    assert got == {2: "b2@x"}
    # CDF follows too (CDF on by default for snapshot tables)
    types = sorted((x["_commit_version"], x["_change_type"]) for x in
                   r.read_change_feed(0).select(
                       "_commit_version", "_change_type").collect())
    ref = sorted((x["_commit_version"], x["_change_type"]) for x in
                 eng.read_change_feed(0).select(
                     "_commit_version", "_change_type").collect())
    assert types == ref


def test_pgwal_line_parser():
    """test_decoding line decode: quoted strings (with '' escapes),
    typed numerics/booleans/timestamps, nulls, replica-identity
    old-key/new-tuple updates, and non-row lines."""
    from deltalake_poc_spark.cdc.pgwal import parse_wal_line

    assert parse_wal_line("BEGIN 731") is None
    assert parse_wal_line("COMMIT 731") is None

    sch, tbl, op, before, after = parse_wal_line(
        "table public.customers: INSERT: id[bigint]:7 "
        "name[text]:'o''brien x' bal[double precision]:2.5 "
        "vip[boolean]:true note[text]:null "
        "created_at[timestamp without time zone]:'2024-01-01 10:00:00'")
    assert (sch, tbl, op, before) == ("public", "customers", "c", None)
    assert after == {"id": 7, "name": "o'brien x", "bal": 2.5,
                     "vip": True, "note": None,
                     "created_at": 1704103200000000}

    _, _, op, before, after = parse_wal_line(
        "table public.customers: UPDATE: old-key: id[bigint]:7 "
        "new-tuple: id[bigint]:8 name[text]:'n'")
    assert op == "u" and before == {"id": 7}
    assert after == {"id": 8, "name": "n"}

    _, _, op, before, after = parse_wal_line(
        "table public.customers: DELETE: id[bigint]:7")
    assert op == "d" and before == {"id": 7} and after is None


def test_pgwal_timestamptz_offsets():
    """timestamptz output carries the session-TZ offset suffix
    ('2024-01-01 10:00:00+00'); the decoder must normalize any offset
    to epoch µs instead of failing the whole WAL batch."""
    from deltalake_poc_spark.cdc.pgwal import _value

    utc = 1704103200000000  # 2024-01-01 10:00:00 UTC
    t = "timestamp with time zone"
    assert _value(t, "'2024-01-01 10:00:00+00'") == utc
    assert _value(t, "'2024-01-01 10:00:00.25+00'") == utc + 250_000
    # +05:30 session zone: local 15:30 is the same UTC instant
    assert _value(t, "'2024-01-01 15:30:00+05:30'") == utc
    # negative offset: local 02:00 at -08 is 10:00 UTC
    assert _value(t, "'2024-01-01 02:00:00-08'") == utc
    # plain timestamp (no offset) still parses as UTC
    assert _value("timestamp without time zone",
                  "'2024-01-01 10:00:00'") == utc


def test_pgwal_key_change_update_splits_delete_insert():
    """An UPDATE that changes the replica-identity key becomes
    delete(old key) + insert(new key) — Debezium's key-change model —
    so the per-key MERGE retires the old-key row. A REPLICA IDENTITY
    FULL update that keeps the key stays one 'u' event."""
    from deltalake_poc_spark.cdc.pgwal import wal_to_kafka_messages

    changes = [
        ("0/1000", "9", "table public.c: UPDATE: old-key: id[bigint]:7 "
                        "new-tuple: id[bigint]:8 name[text]:'n'"),
        ("0/2000", "10", "table public.c: UPDATE: old-key: "
                         "id[bigint]:8 name[text]:'n' "
                         "new-tuple: id[bigint]:8 name[text]:'m'"),
    ]
    msgs = wal_to_kafka_messages(changes)
    ops = [json.loads(m["value"])["payload"]["op"] for m in msgs]
    keys = [json.loads(m["key"])["payload"]["id"] for m in msgs]
    assert ops == ["d", "c", "u"]
    assert keys == [7, 8, 8]
    d_payload = json.loads(msgs[0]["value"])["payload"]
    c_payload = json.loads(msgs[1]["value"])["payload"]
    assert d_payload["before"] == {"id": 7} and d_payload["after"] is None
    assert c_payload["before"] is None
    assert c_payload["after"] == {"id": 8, "name": "n"}
    # same-key full-identity update: unchanged single event, new image
    u_payload = json.loads(msgs[2]["value"])["payload"]
    assert u_payload["after"] == {"id": 8, "name": "m"}


def test_pgwal_messages_reuse_debezium_parse(spark):
    """Adapter output satisfies parse_debezium's Kafka contract: op
    mapping, lsn-as-offset ordering, topic naming, key payload."""
    from deltalake_poc_spark.cdc.pgwal import (kafka_shape_df,
                                               wal_to_kafka_messages)

    changes = [
        ("0/15D6E90", "731", "BEGIN 731"),
        ("0/15D6E90", "731",
         "table public.orders: INSERT: id[bigint]:1 total[numeric]:9.5"),
        ("0/15D6F00", "731", "COMMIT 731"),
        ("0/15D7000", "732",
         "table public.orders: UPDATE: id[bigint]:1 total[numeric]:11.0"),
        ("0/15D8000", "733",
         "table public.orders: DELETE: id[bigint]:1"),
    ]
    msgs = wal_to_kafka_messages(changes, source_name="pgwal", db="d1")
    assert len(msgs) == 3
    assert [m["topic"] for m in msgs] == ["pgwal.public.orders"] * 3
    assert msgs[0]["offset"] < msgs[1]["offset"] < msgs[2]["offset"]

    ev = parse_debezium(kafka_shape_df(spark, msgs)).orderBy("offset")
    rows = ev.collect()
    assert [r["operation"] for r in rows] == ["c", "u", "d"]
    assert rows[0]["table_name"] == "public.orders"
    assert rows[0]["source_db"] == "d1"
    assert json.loads(rows[1]["after_data"]) == {"id": 1, "total": 11.0}
    assert json.loads(rows[2]["before_data"]) == {"id": 1}
    assert rows[1]["source_lsn"] > rows[0]["source_lsn"]


def test_apply_batch_lists_the_batch_tables_once(spark, tmp_path):
    """A batch that names no tables, on an applier that infers unknown
    ones, lists its source tables once: it costs the same Spark jobs
    as the batch that names them, which lists them for the inference."""
    from tests.test_tables import _job_ids

    msgs = [_msg("c", 1, table="lt_a", lsn=10, after=CUST),
            _msg("c", 2, table="lt_b", lsn=11, after={**CUST, "id": 2})]

    def jobs(tables, name):
        applier = CDCApplier(spark, str(tmp_path / name),
                             infer_unknown_tables=True)
        events = parse_debezium(_raw(spark, msgs))
        ids = _job_ids(spark, f"apply-{name}-{tmp_path.name}",
                       lambda: applier.apply_batch(events, tables=tables,
                                                   batch_id="b1"))
        assert {"lt_a", "lt_b"} <= set(applier.table_schemas)
        return len(ids)

    assert jobs(None, "unnamed") == jobs(["lt_a", "lt_b"], "named")


def test_apply_batch_explicit_tables_defers_absent_inference(spark, tmp_path):
    """A multi-table consumer passes its FULL table list every
    micro-batch (the 4-table WAL tier); a batch with no rows for one
    of them must defer that table's schema inference to its first
    real events — not lock in an empty schema and crash the MERGE
    (r9 regression from the sf100 multi-table run)."""
    applier = CDCApplier(spark, str(tmp_path), infer_unknown_tables=True)
    b1 = [_msg("c", 1, table="mt_a", lsn=10, after=CUST)]
    m1 = applier.apply_batch(parse_debezium(_raw(spark, b1)),
                             tables=["mt_a", "mt_b"], batch_id="b1")
    assert "mt_a" in m1 and "mt_b" not in m1
    assert "mt_b" not in applier.table_schemas
    # mt_b's first events arrive later and apply normally
    b2 = [_msg("c", 2, table="mt_b", lsn=20,
               after={**CUST, "id": 2}),
          _msg("u", 1, table="mt_a", lsn=21,
               after={**CUST, "email": "upd@x"})]
    m2 = applier.apply_batch(parse_debezium(_raw(spark, b2)),
                             tables=["mt_a", "mt_b"], batch_id="b2")
    assert set(m2) == {"mt_a", "mt_b"}
    assert applier.snapshot_table("mt_b").read().count() == 1
    a_rows = applier.snapshot_table("mt_a").read().collect()
    assert len(a_rows) == 1 and a_rows[0]["email"] == "upd@x"


# ------------------------------------------------- concurrent table apply

FANOUT = {f"fo_{k}": StructType([StructField("id", LongType()),
                                 StructField("v", StringType()),
                                 StructField("n", LongType())])
          for k in range(4)}
SEED = {t: {i: (i, f"{t}-{i}", i) for i in range(50)} for t in FANOUT}


def _fanout_applier(spark, path, tables=tuple(FANOUT)):
    """An applier over ``tables``, each seeded with its SEED rows by a
    plain write (cheaper than a first MERGE)."""
    applier = CDCApplier(spark, path, table_schemas=FANOUT)
    for t in tables:
        table = applier.snapshot_table(t)
        table.write(spark.createDataFrame(
            [(*r, "c", None, None) for r in SEED[t].values()],
            table.schema()))
    return applier


def _fanout_batch():
    """One batch over the FANOUT tables, per table 20 updates (n +
    1000), 10 deletes and 10 inserts of new keys."""
    lsn = iter(range(10, 10_000))
    batch = []
    for t in FANOUT:
        batch += [_msg("u", i, table=t, lsn=next(lsn),
                       after={"id": i, "v": f"{t}-{i}u", "n": i + 1000})
                  for i in range(0, 40, 2)]
        batch += [_msg("d", i, table=t, lsn=next(lsn), before={"id": i})
                  for i in range(1, 20, 2)]
        batch += [_msg("c", i, table=t, lsn=next(lsn),
                       after={"id": i, "v": f"{t}-{i}", "n": i})
                  for i in range(50, 60)]
    return batch


def _expected(batch):
    """table -> sorted (id, v, n) rows of SEED after ``batch``."""
    state = {t: dict(rows) for t, rows in SEED.items()}
    for _key, value, *_ in batch:
        p = json.loads(value)["payload"]
        t, row = p["source"]["table"], p.get("after")
        if p["op"] == "d":
            state[t].pop(p["before"]["id"], None)
        else:
            state[t][row["id"]] = (row["id"], row["v"], row["n"])
    return {t: sorted(rows.values()) for t, rows in state.items()}


def _snapshot_rows(applier, t):
    return sorted((r["id"], r["v"], r["n"])
                  for r in applier.snapshot_table(t).read().collect())


def test_fanout_matches_one_table_at_a_time(spark, tmp_path):
    """A batch applied to four tables at once commits what applying
    the tables one at a time commits: the same rows, the same MERGE
    metrics and the same data files per commit, with one change file
    per MERGE (the change rows are sized like the data files). Every
    Spark job the pool's threads start runs under the caller's job
    group: no job started during the call is outside it."""
    from tests.test_tables import _job_ids

    batch = _fanout_batch()
    events = parse_debezium(_raw(spark, batch))
    together = _fanout_applier(spark, str(tmp_path / "together"))
    for t in FANOUT:  # the same seeded tables, hard-linked
        together.snapshot_table(t).clone(str(tmp_path / "apart" / t))
    apart = CDCApplier(spark, str(tmp_path / "apart"), table_schemas=FANOUT)
    tag = f"fanout-{tmp_path.name}"

    def probe(name):
        # the status tracker fills from the listener bus, in order:
        # once a probe job shows, every earlier job shows too
        deadline = time.monotonic() + 30
        while True:
            ids = _job_ids(spark, f"{tag}-{name}",
                           lambda: spark.range(1).collect())
            if ids or time.monotonic() > deadline:
                return ids
            time.sleep(0.2)

    got = {}
    first = max(probe("before"))
    group = _job_ids(spark, tag, lambda: got.update(
        together.apply_batch(events, batch_id="b0")))
    last = min(probe("after"))
    assert len(group) > len(FANOUT)
    assert sorted(group) == list(range(first + 1, last))

    events = events.persist()
    try:  # the same tables applied serially, with no pool and no audit
        assert got == {t: apart._apply_table(events, t)
                       for t in sorted(FANOUT)}
    finally:
        events.unpersist()
    want = _expected(batch)
    for t in FANOUT:
        assert _snapshot_rows(together, t) == _snapshot_rows(apart, t) \
            == want[t]
        added = []
        for applier in (together, apart):
            table = applier.snapshot_table(t)
            c = table.log.commits()[-1]
            assert c.operation == "MERGE"
            added.append(len(c.add))
            changes = os.listdir(table.log.abs_path(c.change_dir))
            assert len([f for f in changes
                        if f.endswith(".parquet")]) == 1, changes
        assert added[0] == added[1]


def test_fanout_error_waits_for_every_table_and_replays(spark, tmp_path):
    """A CHECK violation in two of three tables raises the first one's
    error in table order, after every task ended; the other table and
    the audit append stay committed, and a replay of the same batch id
    (once the constraints are gone) converges without re-appending
    audit rows."""
    batch = _fanout_batch()
    names = sorted(FANOUT)[:3]
    applier = _fanout_applier(spark, str(tmp_path), names)
    bad = {names[0]: "cap_zero", names[2]: "cap_two"}
    for t, label in bad.items():
        applier.snapshot_table(t).add_constraint(label, "n < 1000")
    before = {t: applier.snapshot_table(t).version() for t in names}
    events = parse_debezium(_raw(spark, batch))
    with pytest.raises(Exception, match="cap_zero"):
        applier.apply_batch(events, tables=names, batch_id="b0")
    assert not [th.name for th in threading.enumerate()
                if th.name.startswith("cdc-apply")]
    assert spark.sparkContext.statusTracker().getActiveJobsIds() == []
    after = {t: applier.snapshot_table(t).version() for t in names}
    assert after == {t: v + (t not in bad) for t, v in before.items()}
    assert applier.audit_table().read().count() == len(batch)

    for t, label in bad.items():
        applier.snapshot_table(t).drop_constraint(label)
    applier.apply_batch(events, tables=names, batch_id="b0")
    assert applier.audit_table().read().count() == len(batch)
    want = _expected(batch)
    assert {t: _snapshot_rows(applier, t) for t in names} == {
        t: want[t] for t in names}
